"""Streaming k-core maintenance — the incremental twin of
`dedup.kcore_decomposition`, completing the batch/streaming twin
symmetry the graph family keeps everywhere else (CC, drift, lexical
index, fuzzy linkage, ExactSubstr).

Edges arrive incrementally (e.g. from the streaming MinHash-LSH
candidate pipeline); a persisted EDGE STORE accumulates the distinct
normalized edge set, and the k-core is re-peeled from the store on
read through the SAME `kcore_decomposition` core as batch — parity is
by construction, not by reimplementation.

Why re-peel instead of maintaining core numbers incrementally: edge
INSERTIONS can only grow the k-core, but deciding WHICH fringe nodes an
insertion promotes requires a cascade recomputation bounded by the same
peel depth — the set-based peel over the (narrow, deduped) edge store
is the honest distributed form, and its rounds are bounded by the
degeneracy depth (a handful in practice; `kcore_decomposition`
docstring).  Per-trigger cost is O(peel over |distinct edges|),
independent of stream length, because the store grows with the
DISTINCT edge set only:

- normalization (orientation, self-loops) happens BEFORE the store, so
  replays and re-crawls of the same pair are one key;
- the append is left_anti vs the store (the gram-registry discipline,
  streaming/exactsubstr.py) — re-delivered edges add zero rows, so a
  poison batch replayed forever cannot grow the store;
- within-batch duplicates collapse with distinct() before the probe.

Replay safety: an edge is its own idempotency token (first-wins on the
(u, v) key; every later arrival is anti-joined away), so a
fresh-checkpoint full replay leaves the store byte-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryProgress
from pyspark.sql.types import StructType

from wellmeet_data_pipeline_spark.sinks.merge import read_current
from wellmeet_data_pipeline_spark.streaming.pipeline import (
    landing_stream,
    run_partials,
    unseen,
)


def _normalize_edges(df: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """(least, greatest) orientation, self-loops dropped, NULLs dropped —
    the same normalization kcore_decomposition applies, hoisted so the
    STORE key is already canonical."""
    return (
        df.filter(F.col(id_a).isNotNull() & F.col(id_b).isNotNull())
        .filter(F.col(id_a) != F.col(id_b))
        .select(
            F.least(id_a, id_b).alias("id_a"),
            F.greatest(id_a, id_b).alias("id_b"),
        )
        .distinct()
    )


def run_streaming_kcore_edges(
    spark: SparkSession,
    landing_dir: str,
    edge_store: str,
    checkpoint_dir: str,
    schema: StructType,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> list[StreamingQueryProgress]:
    """Landing edge batches -> deduped canonical edge store, availableNow.
    A batch with no new edge (self-loops only, or all re-delivered)
    commits nothing."""
    return run_partials(
        landing_stream(spark, landing_dir, schema), edge_store, checkpoint_dir,
        lambda batch: unseen(
            spark, _normalize_edges(batch, id_a, id_b), edge_store, ["id_a", "id_b"]
        ),
    )


def current_kcore(
    spark: SparkSession, edge_store: str, k: int = 2
) -> DataFrame:
    """The k-core of every edge ever streamed — peeled through the SAME
    batch core (shared semantics, shared convergence discipline)."""
    from wellmeet_data_pipeline_spark.operators.dedup import kcore_decomposition

    edges = read_current(spark, edge_store, id_col=["id_a", "id_b"])
    return kcore_decomposition(edges, k=k)


def current_pagerank(
    spark: SparkSession, edge_store: str, iters: int = 3
) -> DataFrame:
    """PageRank of every edge ever streamed, through the SAME batch core
    (graph_pagerank) — the edge store built for k-core maintenance
    serves every graph read (one store, N analytics; a second
    per-analytic store would just duplicate the dedup discipline).
    Insertions change global rank mass, so like the k-core read this
    recomputes from the store — the fixed-iteration power method's cost
    is O(iters x |distinct edges|), independent of stream length."""
    from wellmeet_data_pipeline_spark.operators.dedup import graph_pagerank

    edges = read_current(spark, edge_store, id_col=["id_a", "id_b"])
    return graph_pagerank(edges, iters=iters)
