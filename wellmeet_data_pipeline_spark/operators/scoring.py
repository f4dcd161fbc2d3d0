"""Model-based document scoring for training-data curation
(SURVEY.md §2.11 north-star, CCNet/fastText family):

- ngram_lm_score: CCNet-style language-model perplexity scoring — train
  an add-alpha-smoothed bigram LM on a reference partition of the
  corpus, score every document's per-token negative log-likelihood, and
  band documents head/middle/tail the way CCNet buckets by Wikipedia-LM
  perplexity.  Generalizes the reference pipeline's per-record quality
  gating (review-crawler validation passes) to statistical quality.

- model_weights_table + hashed_linear_score: fastText-shaped hashed
  bag-of-words linear scorer.  Tokens hash into a 2^16 feature space,
  the model is a (bucket, weight) table broadcast-joined onto the
  exploded tokens, and the document logit is the mean feature weight —
  exactly the production shape for shipping a trained text classifier
  into a Spark pipeline (the weights here are a deterministic
  hash-derived stand-in, like the embedding stub: no training libs in
  the container, but the plumbing — feature hashing, broadcast model
  join, exact integer-space scoring — is the real thing).

- shuffle_to_shards: deterministic global shuffle into N training
  shards.  Shard assignment is a growth-stable sha256 hex-prefix range
  (a doc's shard never changes when the corpus grows); within-shard
  order is the sha rank.  This is the "shuffle the corpus before
  training" step done scalably: no global sort, one N-way window.

Determinism rules (NOTES.md): every per-token float is rounded to a
fixed grid and summed in exact-integer space (sums of integer-valued
doubles are exact and order-independent below 2^53), so document scores
are bit-stable across partitionings and match the DuckDB oracle.
Grid-snapping uses floor(x + 0.5), NOT round(): Spark round(double)
goes through the shortest-decimal repr (HALF_UP) while DuckDB rounds
the binary value, and score ratios with power-of-two denominators
(sum/(32768*n)) land EXACTLY on .5 grid points where the two modes
split.  floor is exact on doubles, so given bit-identical inputs (exact
integer arithmetic + correctly-rounded IEEE division) both engines snap
identically.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wellmeet_data_pipeline_spark.functions.text import normalized_text
from wellmeet_data_pipeline_spark.operators.corpus import split_thresholds, threshold_case_expr

# ---------------------------------------------------------------------------
# CCNet-style n-gram LM perplexity scoring
# ---------------------------------------------------------------------------


def _tokens_with_pos(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, pos, term) for every token of the normalized text.  Positions
    are contiguous from 0: normalization collapses whitespace so split
    never emits interior empties, and the one empty token of an empty
    document is filtered out."""
    return (
        docs.select(
            F.col(id_col),
            F.posexplode(F.split(normalized_text(F.col(text_col)), " ")).alias("pos", "term"),
        )
        .filter(F.col("term") != "")
    )


def _bigram_token_logprobs(
    docs: DataFrame,
    lm_docs: DataFrame,
    text_col: str,
    id_col: str,
    alpha: float,
    round_digits: int,
    docs_tokens: DataFrame | None = None,
    lm_tokens: DataFrame | None = None,
) -> DataFrame:
    """(id, pos, __lp) — every scored token's add-alpha bigram log-prob,
    snapped to the integer grid.  The shared core of ngram_lm_score and
    min_k_prob_score; the algebra and determinism notes live on
    ngram_lm_score's docstring.

    `docs_tokens` / `lm_tokens` optionally supply precomputed
    `_tokens_with_pos`-shaped frames (id, pos, term) so a fused pipeline
    (bench's shared LM-tokens frame) tokenizes the corpus once instead of
    once per scorer; tokenization is per-row, so a filter of the corpus
    commutes exactly through the shared frame."""
    scale = float(10**round_digits)
    lm_tokens = (
        lm_tokens
        if lm_tokens is not None
        else _tokens_with_pos(lm_docs, text_col, id_col)
    )
    w_lag = Window.partitionBy(id_col).orderBy("pos")
    lm_bi = lm_tokens.withColumn("prev", F.lag("term").over(w_lag))
    c1 = lm_tokens.groupBy("term").agg(F.count("*").alias("c1"))
    c2 = (
        lm_bi.filter(F.col("prev").isNotNull())
        .groupBy("prev", "term")
        .agg(F.count("*").alias("c2"))
    )
    # c1 feeds THREE consumers (self-prob join, prev-prob join, the
    # totals scalar) and c2 one more — without materialization each
    # consumer re-runs the whole LM token-explode lineage, i.e. 13
    # scans of the corpus in the executed plan.  The count frames are
    # vocabulary-sized, so checkpointing them (the repo's standard
    # multi-consumer idiom, cf. corpus_end_to_end) collapses the plan
    # to one LM pass per count frame + one pass over the scored docs.
    c1 = c1.localCheckpoint(eager=True)
    c2 = c2.localCheckpoint(eager=True)
    totals = c1.agg(
        F.sum("c1").alias("lm_total"), F.count("*").alias("lm_vocab")
    )

    toks = (
        docs_tokens
        if docs_tokens is not None
        else _tokens_with_pos(docs, text_col, id_col)
    ).withColumn("prev", F.lag("term").over(w_lag))
    c1_self = c1.select(F.col("term"), F.col("c1").alias("c1_self"))
    c1_prev = c1.select(F.col("term").alias("prev"), F.col("c1").alias("c1_prev"))
    c2_pair = c2.select(F.col("prev"), F.col("term"), F.col("c2").alias("c2_pair"))
    joined = (
        toks.join(c1_self, "term", "left")
        .join(c1_prev, "prev", "left")
        .join(c2_pair, ["prev", "term"], "left")
        .crossJoin(F.broadcast(totals))
    )
    a = F.lit(alpha)
    smooth_v = a * F.col("lm_vocab")
    p = F.when(
        F.col("prev").isNull(),
        (F.coalesce(F.col("c1_self"), F.lit(0)) + a) / (F.col("lm_total") + smooth_v),
    ).otherwise(
        (F.coalesce(F.col("c2_pair"), F.lit(0)) + a)
        / (F.coalesce(F.col("c1_prev"), F.lit(0)) + smooth_v)
    )
    scaled = F.floor(F.log(p) * F.lit(scale) + F.lit(0.5)).cast("long")
    return joined.select(id_col, "pos", scaled.alias("__lp"))


def min_k_prob_score(
    docs: DataFrame,
    lm_docs: DataFrame,
    k_pct: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.1,
    round_digits: int = 6,
    docs_tokens: DataFrame | None = None,
    lm_tokens: DataFrame | None = None,
) -> DataFrame:
    """Min-k% probability score (the membership-inference /
    contamination-detection read of Shi et al.'s Min-K% Prob): mean NLL
    of each document's k% LOWEST-probability tokens under the reference
    bigram LM.  A document the LM has effectively memorized has no
    low-probability outlier tokens, so its min-k% mean sits far below
    its overall mean — the signal full-document perplexity averages
    away.  Selection is exact-integer: tokens rank by (snapped log-prob
    asc, pos asc), keep greatest(1, n*k_pct//100), mean by integer
    division of positives.  Output: (id, n_tokens, n_keep,
    min_k_nll_micro)."""
    per_token = _bigram_token_logprobs(
        docs,
        lm_docs,
        text_col,
        id_col,
        alpha,
        round_digits,
        docs_tokens=docs_tokens,
        lm_tokens=lm_tokens,
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__lp").asc(), F.col("pos").asc())
    ranked = per_token.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count("*").over(Window.partitionBy(id_col))
    )
    n_keep = F.greatest(F.lit(1), F.expr(f"__n * {k_pct} div 100"))
    return (
        ranked.withColumn("__keep", n_keep)
        .groupBy(id_col)
        .agg(
            F.max("__n").cast("long").alias("n_tokens"),
            F.max("__keep").cast("long").alias("n_keep"),
            F.expr("(-sum(CASE WHEN __rn <= __keep THEN __lp ELSE 0 END)) div max(__keep)")
            .cast("long")
            .alias("min_k_nll_micro"),
        )
    )


def ngram_lm_score(
    docs: DataFrame,
    lm_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.1,
    head_nll: float = 5.0,
    tail_nll: float = 7.5,
    round_digits: int = 6,
    docs_tokens: DataFrame | None = None,
    lm_tokens: DataFrame | None = None,
) -> DataFrame:
    """Per-document bigram-LM negative log-likelihood (nats/token) plus a
    CCNet-style head/middle/tail band.

    LM: add-alpha-smoothed bigram model counted over `lm_docs` (the
    curated reference partition — CCNet uses a Wikipedia-trained LM):
      p(w_0)        = (c1(w_0) + a) / (T + aV)
      p(w_i|w_i-1)  = (c2(w_i-1, w_i) + a) / (c1(w_i-1) + aV)
    with T = total LM tokens, V = LM vocabulary size.  Unseen words and
    bigrams fall back to the smoothing mass via coalesce(count, 0).

    Plan shape: the LM is two groupBys over the exploded reference
    tokens (term / (prev, term)) — vocabulary-sized frames that AQE
    broadcasts onto the corpus token stream; the per-doc previous token
    is a lag window partitioned by doc (tiny partitions); the final
    aggregate is one groupBy(id).  Document bodies never shuffle — only
    (id, pos, term) rows move.

    Determinism: each token's log-prob is snapped to `round_digits`
    decimals IN INTEGER SPACE (floor(ln(p)*1e6 + 0.5) as bigint) and
    summed exactly, so the per-doc sum is independent of row order and
    matches the DuckDB oracle bit-for-bit (see module docstring for why
    floor, not round).  Caveat: the snap input ln(p) itself is libm
    output (within 1 ulp on either engine, not correctly rounded); a
    1-ulp disagreement flips a snapped micro-nat only when ln(p)*1e6
    lands within ~1e-9 of an integer boundary — measure-zero in
    practice, and the driver compare's 9-significant-digit rendering
    absorbs a single flipped micro-nat in the per-doc mean."""
    scale = float(10**round_digits)
    per_token = _bigram_token_logprobs(
        docs,
        lm_docs,
        text_col,
        id_col,
        alpha,
        round_digits,
        docs_tokens=docs_tokens,
        lm_tokens=lm_tokens,
    )
    per_doc = (
        per_token.groupBy(id_col)
        .agg(F.count("*").alias("n_tokens"), F.sum("__lp").alias("__s"))
        .withColumn(
            "nll",
            F.floor(-F.col("__s") / F.col("n_tokens") + F.lit(0.5)).cast("long")
            / F.lit(scale),
        )
    )
    band = (
        F.when(F.col("nll") <= F.lit(head_nll), F.lit("head"))
        .when(F.col("nll") <= F.lit(tail_nll), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return per_doc.select(id_col, "n_tokens", "nll", band.alias("ppl_band"))


# ---------------------------------------------------------------------------
# fastText-shaped hashed linear classifier
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"
N_FEATURE_BUCKETS = 65536  # 2^16 — four hex chars of sha256(term)


def _hex_nibble(col, i: int):
    # strpos-style hex digit -> value, expressible identically in DuckDB
    return F.instr(F.lit(_HEX), F.substring(col, i, 1)) - F.lit(1)


def feature_bucket(term) -> F.Column:
    """Feature-hash a token into [0, 2^16): the first four hex chars of
    sha256(term), decoded positionally.  Uses instr-over-'0123456789abcdef'
    rather than conv() so the DuckDB oracle (which has no conv) computes
    the byte-identical bucket."""
    c = F.col(term) if isinstance(term, str) else term
    h = F.sha2(c, 256)
    return (
        _hex_nibble(h, 1) * F.lit(4096)
        + _hex_nibble(h, 2) * F.lit(256)
        + _hex_nibble(h, 3) * F.lit(16)
        + _hex_nibble(h, 4)
    )


def model_weights_table(spark: SparkSession) -> DataFrame:
    """The model: one integer weight per feature bucket, in
    [-32768, 32767].  Stand-in weights are a deterministic affine hash
    of the bucket id (Knuth multiplicative constant) — in production
    this frame is the trained classifier loaded from storage; everything
    downstream (broadcast join, integer-space scoring) is unchanged.
    65,536 rows — a broadcast dim."""
    return spark.range(N_FEATURE_BUCKETS).select(
        F.col("id").cast("int").alias("bucket"),
        (F.pmod(F.col("id") * F.lit(2654435761), F.lit(65536)) - F.lit(32768))
        .cast("long")
        .alias("w_int"),
    )


def doc_term_counts(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, term, __tc) — per-document term occurrence counts.  The shared
    bag-of-words frame for every term-grain scorer: a document's exploded
    tokens all live in the partition that scanned it, so the partial
    aggregate collapses duplicates ENTIRELY map-side and only one narrow
    row per distinct (doc, term) ever shuffles."""
    return (
        docs.select(
            F.col(id_col),
            F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("__tc"))
    )


def hashed_linear_score(
    docs: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
    term_counts: DataFrame | None = None,
) -> DataFrame:
    """Score documents with a hashed bag-of-words linear model: aggregate
    tokens to (doc, term) counts, feature-hash each DISTINCT (doc, term)
    into the weight table's bucket space, broadcast-join the model, and
    count-weight the per-document mean.

    logit = sum(w_int * tc) / (32768 * n_tokens)  in [-1, 1], computed
    from an exact bigint sum (order-independent, oracle-stable); `keep`
    is the sign of the RAW integer sum — i.e. of the unrounded logit —
    which is strictly more precise than thresholding the snapped `logit`
    column (a tiny negative sum snaps to logit == 0.0 but keeps
    keep=False).

    Cost shape: sha256 + join probe run once per distinct (doc, term),
    not once per token occurrence — on natural-language corpora that is
    a 1.5-3x cut of the dominant per-token CPU (Zipf: a document repeats
    its common words), bought with one extra narrow shuffle of the
    (doc, term, count) rows (the map-side combine collapses duplicates
    before anything moves — see doc_term_counts).  Pass a precomputed
    `term_counts` frame to share the tokenization pass with other
    term-grain scorers in a fused pipeline."""
    tc = (
        term_counts
        if term_counts is not None
        else doc_term_counts(docs, text_col, id_col)
    )
    bucketed = tc.withColumn("bucket", feature_bucket("term"))
    # LEFT join + coalesce(0): a trained-model export typically stores only
    # non-zero buckets, and an inner join would silently drop unmatched
    # tokens from n_tokens (skewing the mean) and drop fully-unmatched
    # documents from the output entirely — a gate consumer would then
    # discard them regardless of quality
    scored = bucketed.join(F.broadcast(weights), "bucket", "left").withColumn(
        "w_int", F.coalesce(F.col("w_int"), F.lit(0))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("__tc").alias("n_tokens"),
            F.sum(F.col("w_int") * F.col("__tc")).alias("__s"),
        )
        .select(
            id_col,
            "n_tokens",
            (
                F.floor(
                    F.col("__s")
                    / (F.lit(32768.0) * F.col("n_tokens"))
                    * F.lit(float(10**round_digits))
                    + F.lit(0.5)
                ).cast("long")
                / F.lit(float(10**round_digits))
            ).alias("logit"),
            (F.col("__s") >= 0).alias("keep"),
        )
    )


def perplexity_lang_buckets(
    docs: DataFrame,
    lm_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    alpha: float = 0.1,
    round_digits: int = 6,
    docs_tokens: DataFrame | None = None,
    lm_tokens: DataFrame | None = None,
) -> DataFrame:
    """CCNet's actual bucketing rule: per-LANGUAGE head/middle/tail
    cutoffs derived from the corpus's own perplexity distribution
    (terciles), not the fixed global thresholds of ngram_lm_score —
    a language the LM models poorly still splits 1/3-1/3-1/3 instead
    of landing wholesale in "tail".

    Cutoffs are DISCRETE terciles computed in integer micro-nat space:
    per-(lang, nll-grid-value) counts, a cumulative sum over the grid
    (window partitioned by lang over DISTINCT nll values — bounded by
    the value-grid cardinality, never doc-cardinality, so no
    unpartitioned/doc-sized window anywhere), cutoff_k = smallest grid
    value whose cumulative count reaches ceil(k*N/3).  Pure integer
    logic — no float quantile interpolation to diverge between engines.

    Output: (lang, ppl_bucket, n_docs, mean_nll); mean is an exact
    integer micro-nat sum divided once at the end."""
    scored = ngram_lm_score(
        docs,
        lm_docs,
        text_col,
        id_col,
        alpha=alpha,
        round_digits=round_digits,
        docs_tokens=docs_tokens,
        lm_tokens=lm_tokens,
    ).select(id_col, "nll")
    scale = float(10**round_digits)
    s = (
        docs.select(id_col, lang_col)
        .join(scored, id_col)
        .withColumn("__m", F.round(F.col("nll") * F.lit(scale)).cast("long"))
    )
    grid = s.groupBy(lang_col, "__m").agg(F.count("*").alias("__c"))
    w_cum = (
        Window.partitionBy(lang_col)
        .orderBy("__m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.withColumn("__cum", F.sum("__c").over(w_cum))
    tot = grid.groupBy(lang_col).agg(F.sum("__c").alias("__n"))
    cuts = (
        cum.join(tot, lang_col)
        .groupBy(lang_col)
        .agg(
            F.min(
                F.when(
                    F.col("__cum") >= F.floor((F.col("__n") + 2) / 3), F.col("__m")
                )
            ).alias("__cut1"),
            F.min(
                F.when(
                    F.col("__cum") >= F.floor((2 * F.col("__n") + 2) / 3), F.col("__m")
                )
            ).alias("__cut2"),
        )
    )
    bucket = (
        F.when(F.col("__m") <= F.col("__cut1"), F.lit("head"))
        .when(F.col("__m") <= F.col("__cut2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        s.join(F.broadcast(cuts), lang_col)
        .withColumn("ppl_bucket", bucket)
        .groupBy(lang_col, "ppl_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum("__m").cast("double") / F.count("*") / F.lit(scale),
                round_digits,
            ).alias("mean_nll"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic global shuffle into training shards
# ---------------------------------------------------------------------------


def shuffle_to_shards(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "shard",
    hex_width: int = 8,
) -> DataFrame:
    """Assign every row a (shard, pos_in_shard) for randomized training
    order.  Shard = sha256(salt|id) hex-prefix range bucket (equal
    fractions — growth-stable, narrow, no shuffle to assign);
    pos_in_shard = rank of the same hash within the shard.  The only
    shuffle is the N-way rank window — there is NO global sort, so the
    plan scales with executors instead of funneling through one task.
    Reading shards in (shard, pos) order replays a uniform deterministic
    permutation of the corpus."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    ths = split_thresholds(
        [(str(i), 1.0 / n_shards) for i in range(n_shards)], hex_width
    )
    h = F.substring(
        F.sha2(F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string")), 256),
        1,
        hex_width,
    )
    shard = threshold_case_expr(h, ths, lit_fn=lambda n: F.lit(int(n)))
    w = Window.partitionBy("shard").orderBy(F.col("__h").asc(), F.col(id_col).asc())
    return (
        df.withColumn("__h", h)
        .withColumn("shard", shard.cast("int"))
        .withColumn("pos_in_shard", F.row_number().over(w))
        .drop("__h")
    )


# ---------------------------------------------------------------------------
# DSIR-style hashed n-gram importance weighting
# ---------------------------------------------------------------------------


def _hashed_ngram_features(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, bucket) for every hashed unigram AND bigram feature of the
    normalized text — the DSIR feature space (Xie et al., "Data Selection
    for Language Models via Importance Resampling": hashed n-grams into a
    fixed bucket space).  Buckets reuse the classifier's sha256-prefix
    hash so the oracle computes byte-identical ids.

    Features are built IN-ROW from the split token array (a bigram is
    just the adjacent pair words[i-1]+' '+words[i]), so generation is
    pure scan-fused codegen with ZERO shuffle.  The previous form ran a
    lag window partitioned by doc id — a full corpus-grain shuffle of
    the token stream, with no map-side combine possible, purely to pair
    neighbors the source row already held side by side.  That shuffle
    was DSIR's scale bottleneck (8→64x smoke slope 0.878); in-row
    pairing removes it for every consumer (importance weight, model
    build, model scoring)."""
    # NOTE (r13): fanout_small_scan here was A/B-measured and REJECTED —
    # dsir_importance 1.73s (identity) vs 2.36s (fanned) min-of-3 same
    # session: the added round-robin exchange plus the .rdd partition
    # probe cost more than the spread saves at this per-row weight.
    # Feature STRINGS are built with cheap in-row lambdas (concat_ws of
    # adjacent elements), but the sha bucket is computed in a PROJECTION
    # after the explode: HOF lambda bodies run interpreted (measured
    # ~2.5x slower for sha-per-element at 64x smoke), while the
    # projection gets whole-stage codegen AND subexpression elimination
    # across feature_bucket's four nibble reads of one sha2.
    words = F.array_remove(F.split(normalized_text(F.col(text_col)), " "), "")
    # materialize the array once: Catalyst does no CSE inside lambda
    # bodies, so the bigram transform must reference a column, not the
    # normalization regex (the shingles_df pitfall)
    wdf = docs.select(F.col(id_col), words.alias("__w"))
    bigrams = F.transform(
        F.sequence(F.lit(2), F.size("__w")),
        lambda i: F.concat_ws(
            " ", F.element_at("__w", i - F.lit(1)), F.element_at("__w", i)
        ),
    )
    feats = F.concat(
        F.col("__w"),
        F.when(F.size("__w") >= 2, bigrams).otherwise(
            F.array().cast("array<string>")
        ),
    )
    return wdf.select(F.col(id_col), F.explode(feats).alias("__f")).select(
        F.col(id_col), feature_bucket(F.col("__f")).alias("bucket")
    )


def dsir_importance_weight(
    docs: DataFrame,
    target_docs: DataFrame,
    raw_docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.1,
    round_digits: int = 6,
    target_within_docs: bool = False,
) -> DataFrame:
    """Per-document DSIR importance weight: mean over the doc's hashed
    n-gram features of ln(p_target(b) / p_raw(b)), where each p is an
    add-alpha-smoothed bucket unigram model counted over the target /
    raw reference corpora.  Documents that look like the target
    distribution get positive weights — sampling proportional to the
    (exponentiated) weight is importance resampling toward the target.

    Plan shape: both bucket-count frames are bounded by the 2^16 feature
    space (broadcast dims, localCheckpoint'd so their token-explode
    lineage runs once); the doc feature stream joins them broadcast and
    aggregates per doc — document bodies never shuffle, only (id,
    bucket) rows move through the bigram lag window's doc-keyed shuffle.

    Determinism: each feature's log-ratio is snapped to `round_digits`
    decimals in integer space and summed exactly (module docstring);
    `keep` is the sign of the RAW integer sum, strictly more precise
    than thresholding the snapped mean.

    Pass `raw_docs=None` when the raw background IS `docs`, and
    `target_within_docs=True` when `target_docs` is a subset of `docs`
    (the common in-corpus-partition setup): the tokenize + bigram-window
    pass then runs ONCE over the corpus — the doc feature stream is
    checkpointed and both count frames derive from it (c_t via a
    semi-join on the target ids) instead of re-exploding the text."""
    scale = float(10**round_digits)
    # Occurrence grain, materialized once for the two consumers.
    # Measured alternatives at 64x smoke (NOTES r7): recomputing the
    # feature pass per consumer 2.3x worse; pre-aggregating to (id,
    # bucket, cnt) 35% worse (near-distinct keys make the hash-agg pure
    # overhead); array-grain materialization with sha inside transform()
    # 2.5x worse (interpreted lambda vs codegen projection).
    feats = _hashed_ngram_features(docs, text_col, id_col)
    if raw_docs is None or target_within_docs:
        feats = feats.localCheckpoint(eager=True)
    if raw_docs is None and target_within_docs:
        # the common in-corpus setup: BOTH count frames come from ONE
        # aggregation pass over the checkpoint — flag target membership
        # with a (broadcastable, id-only) join and split the counts,
        # instead of a semi-join + two independent scans.  A bucket with
        # zero target features now carries an explicit c_t=0 row;
        # downstream coalesce(c_t, 0) makes that identical to the
        # absent-row form.
        tids = target_docs.select(id_col).distinct().withColumn("__t", F.lit(1))
        cb = (
            feats.join(tids, id_col, "left")
            .groupBy("bucket")
            .agg(
                F.count("*").alias("c_r"),
                F.sum(
                    F.when(F.col("__t") == 1, F.lit(1)).otherwise(F.lit(0))
                )
                .cast("long")
                .alias("c_t"),
            )
            .localCheckpoint(eager=True)
        )
        c_t = cb.select("bucket", "c_t")
        c_r = cb.select("bucket", "c_r")
    else:
        t_feats = (
            feats.join(target_docs.select(id_col), id_col, "left_semi")
            if target_within_docs
            else _hashed_ngram_features(target_docs, text_col, id_col)
        )
        c_t = (
            t_feats.groupBy("bucket")
            .agg(F.count("*").alias("c_t"))
            .localCheckpoint(eager=True)
        )
        r_feats = (
            feats
            if raw_docs is None
            else _hashed_ngram_features(raw_docs, text_col, id_col)
        )
        c_r = (
            r_feats.groupBy("bucket")
            .agg(F.count("*").alias("c_r"))
            .localCheckpoint(eager=True)
        )
    # Resolve the log-ratio at BUCKET grain (the build_dsir_model dense
    # table, shared helper) and broadcast-join the integer result:
    # log() + two divisions per feature OCCURRENCE was the dominant
    # per-row cost at 64x smoke — the ratio only depends on the bucket,
    # so the libm work collapses from |occurrences| to 2^16 evaluations.
    lr_tab = _dense_lr_table(
        docs.sparkSession, c_t, c_r, alpha, scale, out_col="__lr"
    )
    return (
        feats.join(F.broadcast(lr_tab), "bucket")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_features"), F.sum("__lr").alias("__s"))
        .select(
            F.col(id_col),
            "n_features",
            (
                F.floor(F.col("__s") / F.col("n_features") + F.lit(0.5)).cast("long")
                / F.lit(scale)
            ).alias("dsir_weight"),
            (F.col("__s") >= 0).alias("keep"),
        )
    )


def _dense_lr_table(
    spark, c_t: DataFrame, c_r: DataFrame, alpha: float, scale: float, out_col: str
) -> DataFrame:
    """DENSE (bucket, snapped log-ratio) table over the full 2^16
    feature space — THE bit-exactness-critical DSIR formula, shared by
    the inline importance weight and the persisted model so the
    smoothing/snap can never diverge between them (or from the DuckDB
    oracles that encode it).  Dense on purpose: downstream scoring is
    one broadcast join with no unseen-bucket default path, and a raw
    corpus disjoint from the scored docs cannot drop a bucket."""
    totals = c_t.agg(F.sum("c_t").alias("t_total")).crossJoin(
        c_r.agg(F.sum("c_r").alias("r_total"))
    )
    a = F.lit(alpha)
    smooth = a * F.lit(N_FEATURE_BUCKETS)
    dense = (
        spark.range(N_FEATURE_BUCKETS)
        .select(F.col("id").cast("int").alias("bucket"))
        .join(c_t.select("bucket", "c_t"), "bucket", "left")
        .join(c_r.select("bucket", "c_r"), "bucket", "left")
        .crossJoin(F.broadcast(totals))
    )
    p_t = (F.coalesce(F.col("c_t"), F.lit(0)) + a) / (F.col("t_total") + smooth)
    p_r = (F.coalesce(F.col("c_r"), F.lit(0)) + a) / (F.col("r_total") + smooth)
    return dense.select(
        "bucket",
        F.floor(F.log(p_t / p_r) * F.lit(scale) + F.lit(0.5))
        .cast("long")
        .alias(out_col),
    )


def build_dsir_model(
    target_docs: DataFrame,
    raw_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.1,
    round_digits: int = 6,
) -> DataFrame:
    """Precompute the DSIR model as a DENSE (bucket, lr_int) table over
    the full 2^16 feature space: lr_int is the snapped integer micro-nat
    log-ratio ln(p_target(b)/p_raw(b)).  Dense on purpose — scoring is
    then ONE broadcast join with no unseen-bucket default path, and
    65,536 rows is the same broadcast-dim size as model_weights_table.
    Train once offline, persist as parquet, gate micro-batches forever:
    the streaming corpus pipeline's dsir_model option consumes this."""
    scale = float(10**round_digits)
    c_t = (
        _hashed_ngram_features(target_docs, text_col, id_col)
        .groupBy("bucket")
        .agg(F.count("*").alias("c_t"))
        .localCheckpoint(eager=True)
    )
    c_r = (
        _hashed_ngram_features(raw_docs, text_col, id_col)
        .groupBy("bucket")
        .agg(F.count("*").alias("c_r"))
        .localCheckpoint(eager=True)
    )
    return _dense_lr_table(
        target_docs.sparkSession, c_t, c_r, alpha, scale, out_col="lr_int"
    )


def dsir_score_with_model(
    docs: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """Score documents against a prebuilt dense DSIR model (see
    build_dsir_model): explode hashed n-gram features, ONE broadcast
    model join, exact-integer per-doc mean.  Output contract matches
    dsir_importance_weight — the log-ratio depends only on the bucket, so
    scoring with a persisted model is bit-identical to the inline form
    at the same (alpha, round_digits)."""
    scale = float(10**round_digits)
    feats = _hashed_ngram_features(docs, text_col, id_col)
    return (
        feats.join(F.broadcast(model), "bucket")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_features"), F.sum("lr_int").alias("__s"))
        .select(
            F.col(id_col),
            "n_features",
            (
                F.floor(F.col("__s") / F.col("n_features") + F.lit(0.5)).cast("long")
                / F.lit(scale)
            ).alias("dsir_weight"),
            (F.col("__s") >= 0).alias("keep"),
        )
    )


def doremi_weight_step(
    docs: DataFrame,
    lm_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
    eta: float = 1.0,
    alpha: float = 0.1,
    round_digits: int = 6,
    docs_tokens: DataFrame | None = None,
    lm_tokens: DataFrame | None = None,
) -> DataFrame:
    """One DoReMi-style domain-reweighting step (Xie et al. 2023,
    arXiv:2305.10429, simplified): domains whose perplexity under the
    reference LM EXCEEDS the corpus baseline get up-weighted
    multiplicatively — weight ∝ exp(eta * excess_nll) — the
    batch-level analogue of DoReMi's excess-loss update, runnable
    entirely from the bigram-LM scorer this repo already has.

    Exactness: per-domain sums ride the integer micro-nat grid (the
    ngram_lm_score contract), the exp() output snaps to a 1e-9 grid
    BEFORE normalization, and the normalizer is an exact bigint sum, so
    domain weights are independent of aggregation order and match the
    SQL oracle (the one libm exp() call carries the same measure-zero
    1-ulp boundary caveat as ln() in the scorer).  Every frame past
    the token stream is domain-cardinality — trivially broadcastable."""
    scale = float(10**round_digits)
    scored = ngram_lm_score(
        docs,
        lm_docs,
        text_col,
        id_col,
        alpha=alpha,
        round_digits=round_digits,
        docs_tokens=docs_tokens,
        lm_tokens=lm_tokens,
    ).select(id_col, "nll")
    by_dom = (
        docs.select(id_col, domain_col)
        .join(scored, id_col)
        .withColumn("__m", F.round(F.col("nll") * F.lit(scale)).cast("long"))
        .groupBy(domain_col)
        .agg(F.count("*").alias("n_docs"), F.sum("__m").alias("__sm"))
    )
    totals = by_dom.agg(
        F.sum("n_docs").alias("__tn"), F.sum("__sm").alias("__tm")
    )
    mean_nll = F.col("__sm").cast("double") / F.col("n_docs") / F.lit(scale)
    base_nll = F.col("__tm").cast("double") / F.col("__tn") / F.lit(scale)
    excess = F.greatest(mean_nll - base_nll, F.lit(0.0))
    w_int = F.floor(
        F.exp(F.lit(eta) * excess) * F.lit(1e9) + F.lit(0.5)
    ).cast("long")
    stepped = by_dom.crossJoin(F.broadcast(totals)).withColumn("__w", w_int)
    wtot = stepped.agg(F.sum("__w").alias("__wt"))
    return (
        stepped.crossJoin(F.broadcast(wtot))
        .select(
            domain_col,
            "n_docs",
            F.round(mean_nll, round_digits).alias("mean_nll"),
            F.round(
                F.col("__w").cast("double") / F.col("__wt"), round_digits
            ).alias("weight"),
        )
    )


def exact_auc(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    round_digits: int = 6,
) -> DataFrame:
    """Exact ROC-AUC of `score_col` against binary `label_col` by the
    Mann-Whitney rank-sum, computed over the SCORE HISTOGRAM — the
    model-eval step a quality-classifier pipeline runs after every
    retrain (did the new model still separate good from bad docs?).

    Scale shape: scores collapse to (score, n_pos, n_neg) first (map-side
    combine; histogram cardinality = distinct score values, not rows),
    then the negatives-below prefix sum runs through global_rank_cumsum —
    the range-partitioned two-pass cumsum — so there is NO unpartitioned
    window even when a 100 TB corpus yields 10^6+ distinct scores.  Ties
    get the standard half credit.  All arithmetic is exact bigint up to
    the single final division:

        AUC = [ 2*sum_s n_pos(s)*negs_below(s) + sum_s n_pos(s)*n_neg(s) ]
              / (2 * P * N)

    `score_col` must already sit on an exact grid (an integer, or a
    round()-snapped double) — rank statistics on raw accumulation-order
    doubles would not be oracle-stable."""
    from wellmeet_data_pipeline_spark.operators.windows import global_rank_cumsum

    y = F.col(label_col).cast("long")
    hist = scored.groupBy(score_col).agg(
        F.sum(y).alias("n_pos"),
        F.sum(F.lit(1) - y).alias("n_neg"),
    )
    ranked = global_rank_cumsum(hist, [F.col(score_col).asc()], sum_col="n_neg")
    contrib = ranked.select(
        (
            2 * F.col("n_pos") * (F.col("cum") - F.col("n_neg"))
            + F.col("n_pos") * F.col("n_neg")
        ).alias("__u2"),
        "n_pos",
        "n_neg",
    )
    tot = contrib.agg(
        F.sum("__u2").alias("__u2"),
        F.sum("n_pos").alias("__p"),
        F.sum("n_neg").alias("__n"),
    )
    # Single-class input (P*N = 0): AUC is undefined — emit NULL rather
    # than raising DIVIDE_BY_ZERO under ANSI (try_divide), matching the
    # oracle where x/0 is NULL.
    return tot.select(
        F.round(
            F.try_divide(F.col("__u2"), F.lit(2.0) * F.col("__p") * F.col("__n")),
            round_digits,
        ).alias("auc"),
        F.col("__p").alias("n_pos"),
        F.col("__n").alias("n_neg"),
    )


def calibration_bins(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    lo: float = -1.0,
    hi: float = 1.0,
    round_digits: int = 6,
) -> DataFrame:
    """Reliability-diagram bins for a classifier score in [lo, hi]: equal-
    width bins with (count, positive fraction, mean score) — the
    calibration read that accompanies AUC after every retrain (AUC says
    the ranking separates; calibration says the scores MEAN something).

    One groupBy on the bin id (n_bins groups — trivially broadcastable);
    means are exact: `score_col` must sit on the 10^-round_digits grid,
    so the per-bin sum rides an exact bigint micro-score accumulator and
    divides once.  Bin id clamps to [0, n_bins-1] so score == hi lands in
    the top bin instead of a phantom n_bins-th."""
    scale = float(10**round_digits)
    width = (hi - lo) / n_bins
    si = F.round(F.col(score_col) * F.lit(scale)).cast("long")
    bin_id = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col(score_col) - F.lit(lo)) / F.lit(width)).cast("int"),
        ),
    )
    y = F.col(label_col).cast("long")
    return (
        scored.select(bin_id.alias("bin"), si.alias("__si"), y.alias("__y"))
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.sum("__y").alias("n_pos"),
            F.sum("__si").alias("__ssum"),
        )
        .select(
            "bin",
            "n",
            "n_pos",
            F.round(F.col("__ssum") / F.col("n") / F.lit(scale), round_digits).alias(
                "mean_score"
            ),
            F.round(F.col("n_pos") / F.col("n"), round_digits).alias("frac_pos"),
        )
    )


# ---------------------------------------------------------------------------
# Distribution drift between corpus slices (Jensen-Shannon divergence)
# ---------------------------------------------------------------------------


def js_divergence_by_group(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group Jensen-Shannon divergence between the group's unigram
    token distribution and the whole corpus's — the standard drift /
    mixture-shift monitor for a multi-source training corpus (a source
    whose JS vs the blend jumps between snapshots changed its content).

    JS(P_s || P_g) = 0.5·KL(P_s||M) + 0.5·KL(P_g||M), M = (P_s+P_g)/2,
    over the corpus-wide vocabulary.  Both KL legs are evaluated only on
    (group, term) rows that EXIST: for a term absent from the group
    (a = 0) the P_g-leg term is b·ln(2), so the absent-term mass folds
    into ln(2)·(B - Σ_present b) analytically — the plan never builds
    the dense group×vocab frame.

    Exactness (module docstring): with a = count(term in group),
    A = group total, b = corpus count, B = corpus total, the log
    arguments are ratios of exact bigints (P_s/M = 2aB/(aB+bA),
    P_g/M = 2bA/(aB+bA)); each ln() is snapped to the integer micro-nat
    grid, weighted by the exact integer counts, and summed as bigint;
    one division per leg at the end.  ln(2) is computed from the
    literal 2.0 by BOTH engines (never pre-evaluated in Python —
    NOTES.md float-parity rule).  Output `js_micro_nats` is the exact
    bigint grid value; `js_divergence` derives from it by one division.

    Plan: one token explode -> (group, term) count -> term-keyed shuffle
    to join the corpus counts -> group-keyed agg.  Group totals join
    broadcast (|groups| rows); B is a 1-row broadcast cross.  Counts are
    exact bigints, so products a·B stay in int64 up to ~4e18 — beyond
    (true 100 TB corpora) flip the log argument to the double ratio
    (a/A)/(m) at the cost of oracle-grade bit parity.
    """
    toks = (
        docs.filter(F.col(group_col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            F.explode(F.split(normalized_text(text_col), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    sc = toks.groupBy("grp", "term").agg(F.count("*").alias("a"))
    return js_from_group_term_counts(sc, out_group_col=group_col)


def js_from_group_term_counts(
    sc: DataFrame, out_group_col: str = "source"
) -> DataFrame:
    """JS-divergence core over a (grp, term, a) count frame — shared
    verbatim by the batch operator above and the streaming drift monitor
    (streaming/analytics.current_source_drift), so the two stay
    contract-identical.  Exactness rules per js_divergence_by_group.

    The input is checkpointed here: it is vocab x |groups|-bounded and
    consumed FOUR times (gc/ga/gb and the join), so whatever lineage
    produced it — the batch corpus token explode, the streaming store's
    dedup-on-read — runs once."""
    scale = 1_000_000
    sc = sc.localCheckpoint(eager=True)
    gc = sc.groupBy("term").agg(F.sum("a").alias("b"))
    ga = sc.groupBy("grp").agg(F.sum("a").alias("tot_a"))
    gb = gc.agg(F.sum("b").alias("tot_b"))
    j = (
        sc.join(gc, "term")
        .join(F.broadcast(ga), "grp")
        .crossJoin(F.broadcast(gb))
    )
    den = F.col("a") * F.col("tot_b") + F.col("b") * F.col("tot_a")
    t1 = F.floor(
        F.log(F.lit(2) * F.col("a") * F.col("tot_b") / den) * F.lit(scale) + F.lit(0.5)
    ).cast("long")
    t2 = F.floor(
        F.log(F.lit(2) * F.col("b") * F.col("tot_a") / den) * F.lit(scale) + F.lit(0.5)
    ).cast("long")
    ln2 = F.floor(F.log(F.lit(2.0)) * F.lit(scale) + F.lit(0.5)).cast("long")
    per_grp = j.groupBy("grp").agg(
        F.first("tot_a").alias("n_tokens"),
        F.first("tot_b").alias("tot_b"),
        F.count("*").alias("n_terms"),
        F.sum(F.col("a") * t1).alias("s1"),
        F.sum(F.col("b") * t2).alias("s2p"),
        F.sum("b").alias("b_present"),
    )
    s2 = F.col("s2p") + ln2 * (F.col("tot_b") - F.col("b_present"))
    js_micro = F.floor(
        F.lit(0.5)
        * (
            F.col("s1") / F.col("n_tokens").cast("double")
            + s2 / F.col("tot_b").cast("double")
        )
        + F.lit(0.5)
    ).cast("long")
    return per_grp.select(
        F.col("grp").alias(out_group_col),
        F.col("n_tokens"),
        F.col("n_terms"),
        js_micro.alias("js_micro_nats"),
        (js_micro / F.lit(1_000_000.0)).alias("js_divergence"),
    )


def vocab_overlap_pairs(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise vocabulary Jaccard between corpus slices — the companion
    read to js_divergence_by_group: JS says HOW FAR a source drifted
    from the blend, the overlap matrix says WHICH sources share (or
    stopped sharing) vocabulary.  One row per unordered source pair.

    Shape: one token explode -> distinct (group, term) -> term-keyed
    self-join (each term contributes its sources-containing-it pairs,
    so the join output is sum over terms of k_t^2 — bounded by
    |vocab| * |groups|^2, and |groups| is the small axis of any real
    corpus) -> (g1, g2) count.  Pairs sharing NO vocabulary emit no row
    (the pair frame is born from the term join — never a groups^2
    cross): absence of a row IS the zero-overlap signal.  Jaccard rides
    the micro grid:
    jaccard_micro = floor(1e6 * shared / (n_a + n_b - shared) + 0.5),
    exact-int inputs, one IEEE division, so both engines snap alike.
    """
    v = (
        docs.filter(F.col(group_col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            F.explode(F.split(normalized_text(text_col), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = v.groupBy("grp").agg(F.count("*").alias("n_terms"))
    inter = (
        v.select(F.col("grp").alias("g1"), "term")
        .join(v.select(F.col("grp").alias("g2"), "term"), "term")
        .filter(F.col("g1") < F.col("g2"))
        .groupBy("g1", "g2")
        .agg(F.count("*").alias("n_shared"))
    )
    j = (
        inter.join(
            F.broadcast(sizes.select(F.col("grp").alias("g1"), F.col("n_terms").alias("n_terms_a"))),
            "g1",
        )
        .join(
            F.broadcast(sizes.select(F.col("grp").alias("g2"), F.col("n_terms").alias("n_terms_b"))),
            "g2",
        )
    )
    union_sz = F.col("n_terms_a") + F.col("n_terms_b") - F.col("n_shared")
    jm = F.floor(
        F.lit(1_000_000) * F.col("n_shared") / union_sz.cast("double") + F.lit(0.5)
    ).cast("long")
    return j.select(
        F.col("g1").alias("source_a"),
        F.col("g2").alias("source_b"),
        "n_terms_a",
        "n_terms_b",
        "n_shared",
        jm.alias("jaccard_micro"),
        (jm / F.lit(1_000_000.0)).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Compression-ratio quality signal (zlib)
# ---------------------------------------------------------------------------

def compression_ratio(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """zlib compression ratio per document — the classic cheap
    redundancy/quality signal (highly repetitive or templated text
    compresses far below prose; near-random strings don't compress),
    used alongside the Gopher rules in web-curation pipelines.

    Arrow-batched mapInPandas (zlib is CPU work Catalyst can't express;
    one batch of texts in, one narrow stat frame out — the
    multimodal-extract shape).  Deterministic for a pinned level within
    an environment; zlib output bytes are NOT guaranteed stable across
    zlib library versions, so this is a rows-only operator whose
    evidence is an exact pytest differential against an independent
    direct zlib call, not a SQL oracle.  ratio_micro is integer-exact:
    compressed_bytes * 1e6 // max(raw_bytes, 1).

    Output: (id, n_bytes, n_compressed, ratio_micro); NULL text rows
    report 0 bytes.  The id column keeps its own type (string URLs and
    bigint doc ids both work)."""
    import pandas as pd

    id_type = docs.schema[id_col].dataType.simpleString()

    def run(batches):
        import zlib

        cols = [id_col, "n_bytes", "n_compressed", "ratio_micro"]
        for pdf in batches:
            rows = []
            for rec in pdf.to_dict(orient="records"):
                raw = (rec[text_col] or "").encode("utf-8")
                comp = len(zlib.compress(raw, level)) if raw else 0
                rows.append(
                    {
                        id_col: rec[id_col],
                        "n_bytes": len(raw),
                        "n_compressed": comp,
                        "ratio_micro": comp * 1_000_000 // max(len(raw), 1),
                    }
                )
            yield pd.DataFrame(rows, columns=cols)

    return docs.select(id_col, text_col).mapInPandas(
        run,
        f"{id_col} {id_type}, n_bytes long, n_compressed long, ratio_micro long",
    )


def cohens_kappa(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Cohen's kappa between two label columns — chance-corrected
    agreement, the standard read on whether a cheap heuristic labeler
    (or a second annotator) agrees with truth beyond what marginal
    label frequencies guarantee.  Exact integer arithmetic end-to-end:
    kappa = (po - pe)/(1 - pe) restated over counts as
    (agree*N - S) / (N^2 - S) with S = sum_l row_l * col_l, evaluated
    on the micro grid with 128-bit decimals (N^2 passes bigint at
    web-scale row counts); both engines' integer division truncates
    toward zero, so negative kappas render identically.

    Plan: two map-side-combined scalar aggregations + one
    label-cardinality join — no row-grain shuffle beyond the combines;
    the three 1-row frames meet in broadcast cross joins (the scalar-
    join pattern).  NULL labels on either side are excluded.

    Output (1 row): n_docs, n_agree, po_micro, pe_micro, kappa_micro
    (kappa NULL when pe = 1 — a single shared marginal class leaves
    nothing for chance correction to measure)."""
    base = df.select(
        F.col(col_a).alias("__a"), F.col(col_b).alias("__b")
    ).filter(F.col("__a").isNotNull() & F.col("__b").isNotNull())
    st = base.agg(
        F.count("*").cast("long").alias("n_docs"),
        # coalesce: sum over an EMPTY frame is NULL, the oracle's 0
        # (r11 empty-fixture catch — also keeps the column integral)
        F.coalesce(
            F.sum(F.when(F.col("__a") == F.col("__b"), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("n_agree"),
    )
    ra = base.groupBy("__a").agg(F.count("*").alias("__ra"))
    cb = base.groupBy("__b").agg(F.count("*").alias("__cb"))
    s = (
        ra.join(cb, ra["__a"] == cb["__b"])
        .agg(
            F.coalesce(
                F.sum(
                    F.col("__ra").cast("decimal(38,0)") * F.col("__cb")
                ),
                F.lit(0),
            )
            .cast("decimal(38,0)")
            .alias("__s")
        )
    )
    out = st.crossJoin(F.broadcast(s))
    nn = "CAST(n_docs AS DECIMAL(38,0)) * n_docs"
    return out.select(
        "n_docs",
        "n_agree",
        F.when(
            F.col("n_docs") > 0,
            F.expr("CAST(n_agree AS DECIMAL(38,0)) * 1000000 div n_docs"),
        )
        .cast("long")
        .alias("po_micro"),
        F.when(
            F.col("n_docs") > 0, F.expr(f"__s * 1000000 div ({nn})")
        )
        .cast("long")
        .alias("pe_micro"),
        F.when(
            ((F.expr(nn)) - F.col("__s")) != 0,
            F.expr(
                f"(CAST(n_agree AS DECIMAL(38,0)) * n_docs - __s) * 1000000"
                f" div ({nn} - __s)"
            ),
        )
        .cast("long")
        .alias("kappa_micro"),
    )


def expected_calibration_error(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    lo: float = -1.0,
    hi: float = 1.0,
    round_digits: int = 6,
) -> DataFrame:
    """ECE/MCE scalars over the same equal-width bins as
    calibration_bins — the single-number calibration gate a retrain
    pipeline alerts on (the reliability diagram is the diagnostic, ECE
    is the threshold).  Exactness: the per-bin gap n_b*|p_b - s_b|
    algebraically equals |pos_b*10^d - ssum_b| / 10^d, an exact bigint
    numerator, so ECE = sum_b |pos_b*10^d - ssum_b| div N and MCE =
    max_b (|pos_b*10^d - ssum_b| div n_b) involve no float summation at
    all — bin order cannot perturb the result on either engine.

    Output: one row (n_docs, ece_micro, mce_micro)."""
    scale = 10**round_digits
    width = (hi - lo) / n_bins
    si = F.round(F.col(score_col) * F.lit(float(scale))).cast("long")
    bin_id = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col(score_col) - F.lit(lo)) / F.lit(width)).cast("int"),
        ),
    )
    per_bin = (
        scored.select(
            bin_id.alias("bin"),
            si.alias("__si"),
            F.col(label_col).cast("long").alias("__y"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.sum("__y").alias("pos"),
            F.sum("__si").alias("ssum"),
        )
    )
    gap = F.abs(F.col("pos") * F.lit(scale) - F.col("ssum"))
    return (
        per_bin.agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.sum(gap).cast("long").alias("__tg"),
            F.max(F.expr(f"abs(pos * {scale} - ssum) div n"))
            .cast("long")
            .alias("mce_micro"),
        ).select(
            "n_docs",
            F.expr("__tg div n_docs").cast("long").alias("ece_micro"),
            "mce_micro",
        )
    )


def psi_from_source_bin_counts(cs: DataFrame, n_bins: int = 10) -> DataFrame:
    """Population stability index per source from a (source, bin, c)
    count frame — the shared core the batch query and the streaming
    drift monitor both route through (stream==batch parity by
    construction).  Laplace +1 smoothing over the full n_bins grid;
    every term exact: p-q = (a-b)/D with bigint a, b; ln(p/q) = ln(a/b)
    micro-snapped; one integer division per source at the end.

    All frames are (sources x bins)-bounded after the input aggregation
    — nothing corpus-grain."""
    spark = cs.sparkSession
    cs = cs.select("source", "bin", F.col("c").cast("long").alias("c"))
    ns = cs.groupBy("source").agg(F.sum("c").alias("n"))
    cq = cs.groupBy("bin").agg(F.sum("c").alias("cc"))
    nq = cs.agg(F.sum("c").alias("nn"))
    bins = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    grid = (
        ns.crossJoin(F.broadcast(bins))
        .join(cs, ["source", "bin"], "left")
        .join(F.broadcast(cq), "bin", "left")
        .crossJoin(F.broadcast(nq))
        .select(
            "source",
            ((F.coalesce(F.col("c"), F.lit(0)) + 1) * (F.col("nn") + n_bins)).alias("a"),
            ((F.coalesce(F.col("cc"), F.lit(0)) + 1) * (F.col("n") + n_bins)).alias("bb"),
            (F.col("n") + n_bins).alias("n10"),
            (F.col("nn") + n_bins).alias("nn10"),
        )
    )
    lm = F.floor(
        F.log(F.col("a").cast("double") / F.col("bb").cast("double"))
        * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    return (
        grid.withColumn("__lm", lm)
        .groupBy("source")
        .agg(
            F.sum((F.col("a") - F.col("bb")) * F.col("__lm")).cast("long").alias("__s"),
            F.first("n10").alias("__n10"),
            F.first("nn10").alias("__nn10"),
        )
        .select(
            "source",
            F.expr("__s div (__n10 * __nn10)").cast("long").alias("psi_micro"),
        )
    )


def length_bins(docs: DataFrame, width: int = 64, n_bins: int = 10) -> DataFrame:
    """(source, bin) rows under the fixed-width length-bin rule the PSI
    family shares (batch query, streaming monitor, tests)."""
    return docs.filter(
        F.col("source").isNotNull() & F.col("n_chars").isNotNull()
    ).select(
        "source",
        F.least(
            F.lit(n_bins - 1),
            F.greatest(F.lit(0), F.expr(f"n_chars div {width}").cast("int")),
        ).alias("bin"),
    )


def _frontier_pass(df: DataFrame, metric_a: str, metric_b: str, *buckets: str) -> DataFrame:
    wa = (
        Window.partitionBy(*buckets)
        .orderBy(F.col(metric_a).desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    we = Window.partitionBy(*buckets, metric_a)
    return (
        df.withColumn("__mh", F.max(metric_b).over(wa))
        .withColumn("__me", F.max(metric_b).over(we))
        .filter(
            (F.col("__mh").isNull() | (F.col("__mh") < F.col(metric_b)))
            & (F.col("__me") <= F.col(metric_b))
        )
        .drop("__mh", "__me")
    )


def pareto_frontier(
    df: DataFrame,
    metric_a: str,
    metric_b: str,
    prebuckets: int = 64,
) -> DataFrame:
    """Rows Pareto-optimal when MAXIMIZING both integer metrics: no other
    row is >= on both with > on at least one (ties survive together —
    equal points don't dominate each other).  The data-selection read:
    the frontier is the set of documents no curation rule trading the two
    metrics can ever discard first.

    Per pass the work is two windows instead of the O(n^2) dominance
    self-join — a row is dominated iff (a) some row with STRICTLY larger
    metric_a has metric_b >= ours (running max over the integer-valued
    range frame a' >= a + 1), or (b) a row with EQUAL metric_a has
    metric_b strictly larger (per-a max).  Requires integer metrics: the
    range frame boundary -1 IS the strictness.

    Scale shape: the global pass needs a TOTAL order on metric_a — a
    single-partition window.  So prune first: the global frontier is a
    subset of the union of bucket-local frontiers (domination within a
    bucket implies domination globally), and a 2-D frontier is tiny
    relative to n, so the corpus-grain work is the parallel bucketed
    pass and only ~|frontier| * prebuckets survivors reach the serial
    window."""
    if prebuckets > 1:
        local = _frontier_pass(
            df.withColumn(
                "__bk", F.pmod(F.xxhash64(F.col(metric_a), F.col(metric_b)), F.lit(prebuckets))
            ),
            metric_a,
            metric_b,
            "__bk",
        ).drop("__bk")
    else:
        local = df
    return _frontier_pass(local, metric_a, metric_b)


def average_precision(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
) -> DataFrame:
    """Exact average precision (area under the precision-recall curve by
    the step definition) of `score_col` against binary `label_col` —
    the PR-side companion of exact_auc, and the right eval when
    positives are rare (quality-classifier corpora are heavily
    imbalanced, where ROC-AUC saturates).

        AP = (1/P) * sum over positive rows of  cum_pos(r) / r

    with r the 1-based rank under (score DESC, id ASC) — the id
    tiebreak makes ranks exact and oracle-stable (pessimistic/
    optimistic tie conventions differ; a pinned total order does not).
    Each positive row's precision term snaps to the NANO grid before
    the integer sum, so the final ap_micro = sum_nano div (1000 * P)
    is aggregation-order-independent.  NULL labels occupy ranks but
    are neither positives nor cum_pos contributions (SQL sum-skips-
    null on both engines).

    Scale: the global ranking runs through global_rank_cumsum — the
    range-partitioned two-pass prefix sum — so there is no
    unpartitioned window at any cardinality.  Emits one row:
    (ap_micro, n_pos, n_docs); ap_micro is NULL when P = 0.

    `score_col` must sit on an exact grid (integer / snapped double)."""
    from wellmeet_data_pipeline_spark.operators.windows import global_rank_cumsum

    ranked = global_rank_cumsum(
        scored.select(
            F.col(score_col), F.col(id_col), F.col(label_col).cast("long").alias("__y")
        ),
        [F.col(score_col).desc(), F.col(id_col).asc()],
        sum_col="__y",
    )
    term = F.floor(
        F.col("cum").cast("double") / F.col("rank").cast("double")
        * F.lit(1_000_000_000.0)
        + F.lit(0.5)
    ).cast("long")
    agg = ranked.agg(
        F.sum(F.when(F.col("__y") == 1, term).otherwise(F.lit(0))).alias("__s_nano"),
        F.sum("__y").cast("long").alias("n_pos"),
        F.count("*").cast("long").alias("n_docs"),
    )
    return agg.select(
        F.when(
            F.col("n_pos") > 0,
            F.expr("__s_nano div (1000 * n_pos)").cast("long"),
        ).alias("ap_micro"),
        "n_pos",
        "n_docs",
    )


def stupid_backoff_nll(
    docs: DataFrame,
    lm_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    backoff: float = 0.4,
    round_digits: int = 6,
    docs_tokens: DataFrame | None = None,
    lm_tokens: DataFrame | None = None,
) -> DataFrame:
    """Per-document negative log-likelihood under a TRIGRAM stupid-backoff
    LM (Brants et al. 2007, "Large Language Models in Machine
    Translation") counted on `lm_docs` — the web-scale scoring rule that
    skips normalization entirely: relative frequencies with a fixed 0.4
    penalty per backoff level, which at corpus scale matches smoothed
    Kneser-Ney closely at a fraction of the cost.  The trigram sibling
    of ngram_lm_score (CCNet-style filtering with longer context).

    Per token at position i with context (w_{i-2}, w_{i-1}):

        trigram hit : p = c3(w_{i-2} w_{i-1} w_i) / c2(w_{i-2} w_{i-1})
        bigram hit  : p = 0.4^b * c2(w_{i-1} w_i) / c1(w_{i-1})
        unigram     : p = 0.4^b * (c1(w_i) + 1) / (N + V)

    where b counts backoffs actually taken from the position's highest
    available level (pos 0 starts at unigram with NO penalty, pos 1 at
    bigram) and the unigram level is add-one so OOV tokens stay finite.
    A trigram hit implies its context pair occurs in the LM, so the
    denominator join can't miss.

    Determinism: counts are exact BIGINTs; each token's ln(p) is a
    double computed from those integers in a fixed shape, snapped to
    the micro grid, and integer-summed per document — the scoring.py
    module-docstring discipline.  Emits (id, n_tokens, sb_nll_micro)
    with sb_nll_micro = (-sum lp) div n_tokens (nonnegative: p <= 1).

    Scale: one token-explode pass per side; count frames are vocab- /
    bigram- / trigram-cardinality and localCheckpointed once for their
    multiple consumers; the score pass is four left equi-joins on the
    token stream + one broadcast totals row — no windows beyond the
    per-document lag."""
    scale = float(10**round_digits)
    w_lag = Window.partitionBy(id_col).orderBy("pos")

    lm_tokens = (
        lm_tokens
        if lm_tokens is not None
        else _tokens_with_pos(lm_docs, text_col, id_col)
    )
    lm_ctx = lm_tokens.withColumn("p1", F.lag("term", 1).over(w_lag)).withColumn(
        "p2", F.lag("term", 2).over(w_lag)
    )
    c1 = lm_tokens.groupBy("term").agg(F.count("*").cast("long").alias("c1"))
    c1 = c1.localCheckpoint(eager=True)  # self-prob, context-prob, totals
    c2 = (
        lm_ctx.filter(F.col("p1").isNotNull())
        .groupBy("p1", "term")
        .agg(F.count("*").cast("long").alias("c2"))
    )
    c2 = c2.localCheckpoint(eager=True)  # bigram-prob and trigram-context
    c3 = (
        lm_ctx.filter(F.col("p2").isNotNull())
        .groupBy("p2", "p1", "term")
        .agg(F.count("*").cast("long").alias("c3"))
    )
    totals = c1.agg(
        F.sum("c1").cast("long").alias("lm_total"),
        F.count("*").cast("long").alias("lm_vocab"),
    )

    toks = (
        (
            docs_tokens
            if docs_tokens is not None
            else _tokens_with_pos(docs, text_col, id_col)
        )
        .withColumn("p1", F.lag("term", 1).over(w_lag))
        .withColumn("p2", F.lag("term", 2).over(w_lag))
    )
    joined = (
        toks.join(c3, ["p2", "p1", "term"], "left")
        .join(c2.select("p1", "term", "c2"), ["p1", "term"], "left")
        .join(
            c2.select(
                F.col("p1").alias("p2"),
                F.col("term").alias("p1"),
                F.col("c2").alias("c2ctx"),
            ),
            ["p2", "p1"],
            "left",
        )
        .join(
            c1.select(F.col("term").alias("p1"), F.col("c1").alias("c1ctx")),
            ["p1"],
            "left",
        )
        .join(c1.select("term", F.col("c1").alias("c1self")), ["term"], "left")
        .crossJoin(F.broadcast(totals))
    )
    b = F.lit(backoff)
    uni = (F.coalesce(F.col("c1self"), F.lit(0)).cast("double") + F.lit(1.0)) / (
        F.col("lm_total") + F.col("lm_vocab")
    ).cast("double")
    p = (
        F.when(
            F.col("p2").isNotNull() & F.col("c3").isNotNull(),
            F.col("c3").cast("double") / F.col("c2ctx").cast("double"),
        )
        .when(
            F.col("p1").isNotNull() & F.col("c2").isNotNull(),
            F.when(F.col("p2").isNotNull(), b).otherwise(F.lit(1.0))
            * (F.col("c2").cast("double") / F.col("c1ctx").cast("double")),
        )
        .otherwise(
            F.when(F.col("p2").isNotNull(), b * b)
            .when(F.col("p1").isNotNull(), b)
            .otherwise(F.lit(1.0))
            * uni
        )
    )
    lp = F.floor(F.log(p) * F.lit(scale) + F.lit(0.5)).cast("long")
    return (
        joined.select(id_col, lp.alias("__lp"))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            (-F.sum("__lp")).alias("__nll"),
        )
        .select(
            id_col,
            "n_tokens",
            F.expr("__nll div n_tokens").cast("long").alias("sb_nll_micro"),
        )
    )


def keyness_chi2_top_terms(
    docs: DataFrame,
    group_col: str,
    k: int = 10,
    min_count: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Top-k KEY terms per group by chi-square keyness — the corpus-
    linguistics read behind "what vocabulary characterizes this source"
    (keyword extraction against the rest of the corpus as reference).
    For each (term, group) the 2x2 contingency

        a = term count in group       b = other tokens in group
        c = term count elsewhere      d = other tokens elsewhere

    scores chi2 = N*(ad - bc)^2 / ((a+b)(c+d)(a+c)(b+d)), restricted to
    POSITIVE association (a*N > (a+c)*n_g, exact-integer cross-multiply
    — anti-keyness is a different question) and a >= min_count (the
    usual chi2 validity floor).  PMI (token_pmi_collocations) ranks by
    lift and over-rewards rare terms; chi2 weights by evidence mass.

    Counts are exact BIGINTs; the chi2 products would overflow int64 at
    corpus scale, so they form in DOUBLES from the exact integers at the
    final projection, micro-snapped.  Top-k cuts on (chi2_micro DESC,
    term ASC) per group — deterministic.  NULL groups excluded.

    Scale: one token-explode pass; everything after is (group, term)
    histogram grain; the rank window partitions per group over its
    candidate terms only."""
    base = docs.filter(F.col(group_col).isNotNull())
    # a shared corpus-wide `tokens` frame is fine: the inner join onto
    # base(id, group) applies the group-not-null filter either way
    toks = (
        tokens if tokens is not None else _tokens_with_pos(base, text_col, id_col)
    ).join(base.select(id_col, group_col), id_col)
    gt = toks.groupBy(group_col, "term").agg(F.count("*").cast("long").alias("__a"))
    gt = gt.localCheckpoint(eager=False)  # feeds group totals, term totals, frame
    ng = gt.groupBy(group_col).agg(F.sum("__a").alias("__n_g"))
    tt = gt.groupBy("term").agg(F.sum("__a").alias("__t"))
    tot = gt.agg(F.sum("__a").alias("__n"))
    f = (
        gt.join(F.broadcast(ng), group_col)
        .join(tt, "term")
        .crossJoin(F.broadcast(tot))
        .filter(
            (F.col("__a") >= min_count)
            & (F.col("__a") * F.col("__n") > F.col("__t") * F.col("__n_g"))
            # degenerate-margin guards (term = whole corpus / group = whole
            # corpus would zero a denominator factor): exact-integer
            & (F.col("__t") < F.col("__n"))
            & (F.col("__n_g") < F.col("__n"))
        )
    )
    a = F.col("__a").cast("double")
    b = (F.col("__n_g") - F.col("__a")).cast("double")
    c = (F.col("__t") - F.col("__a")).cast("double")
    d = (F.col("__n") - F.col("__n_g") - (F.col("__t") - F.col("__a"))).cast("double")
    n = F.col("__n").cast("double")
    chi2 = F.try_divide(
        n * (a * d - b * c) * (a * d - b * c),
        (a + b) * (c + d) * (a + c) * (b + d),
    )
    scored = f.select(
        group_col,
        "term",
        F.col("__a").alias("term_count"),
        F.floor(chi2 * F.lit(1_000_000.0) + F.lit(0.5)).cast("long").alias(
            "chi2_micro"
        ),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("chi2_micro").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(group_col, "term", "term_count", "chi2_micro",
                F.col("__rk").cast("int").alias("rank"))
    )


WOE_BINS = 10


def woe_information_value(
    labeled: DataFrame, score_col: str = "si", label_col: str = "y"
) -> DataFrame:
    """Weight-of-evidence binning + information value of a score against
    a binary label — the credit-scoring-standard read of "how separable
    is this feature", the monotone-binned companion of exact_auc (rank
    separability) and calibration_ece (probability honesty).  Scores on
    the micro grid [-1e6, 1e6] fall into WOE_BINS fixed-width bins;

      woe_k = ln((pos_k / P) / (neg_k / N))
      iv    = sum_k (pos_k / P - neg_k / N) * woe_k

    with the IV sum restricted to bins holding both classes (the
    standard zero-cell convention; one-class bins emit NULL woe and
    contribute 0).  Counts are exact BIGINTs; woe/iv close in doubles
    (ln's last-ulp is inside the micro snap, the ksb/qld precedent) and
    the IV scalar broadcasts back onto every bin row.

    One groupBy(bin) + one 1-row agg; output per bin: (bin, n_pos,
    n_neg, woe_micro, iv_micro)."""
    b = labeled.select(
        F.least(
            F.lit(WOE_BINS - 1),
            F.floor(
                (F.col(score_col).cast("long") + F.lit(1_000_000))
                * WOE_BINS
                / 2_000_000
            ).cast("int"),
        ).alias("bin"),
        F.col(label_col).cast("long").alias("y"),
    )
    binned = b.groupBy("bin").agg(
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("n_neg"),
    )
    tot = binned.agg(
        F.sum("n_pos").cast("long").alias("p"),
        F.sum("n_neg").cast("long").alias("n"),
    )
    both = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    woe = F.log(
        (F.col("n_pos").cast("double") * F.col("n").cast("double"))
        / (F.col("n_neg").cast("double") * F.col("p").cast("double"))
    )
    snap = lambda c: F.floor(c * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")  # noqa: E731
    # iv terms snap to BIGINT micro per bin BEFORE the sum: double sums
    # are partition-order-dependent; snapped-BIGINT sums are exact (the
    # repo moment discipline), so iv_micro is the exact sum of the
    # per-bin micro terms
    per_bin = binned.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_pos",
        "n_neg",
        F.when(both, snap(woe)).alias("woe_micro"),
        F.when(
            both,
            snap(
                (
                    F.col("n_pos").cast("double") / F.col("p").cast("double")
                    - F.col("n_neg").cast("double") / F.col("n").cast("double")
                )
                * woe
            ),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("iv_term_micro"),
    )
    iv = per_bin.agg(F.sum("iv_term_micro").cast("long").alias("iv_micro"))
    return per_bin.crossJoin(F.broadcast(iv)).select(
        "bin",
        "n_pos",
        "n_neg",
        F.col("woe_micro").cast("long"),
        F.col("iv_micro"),
    )
