"""Correctness gates.  They run untimed after the window and return a
list of problems; any problem makes the run report `correct: false`
and exit non-zero.

- ingest: both stores equal the generator's exactly-once sets, invalid
  records are absent, every review id is the reference's sha256 of
  (author|content|visit_date), and every read returned a subset of the
  place's payloads of the right size.
- retrieval: the pinned registry requests match their oracles (DuckDB,
  or an exact numpy evaluation of the same formula for the cosine
  self-join, whose DuckDB oracle is too slow to run every time).  A
  seeded sample of the other requests matches DuckDB (BM25) or numpy
  (cosine), with the same rounding and tie order.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import re
from collections import Counter

import numpy as np

from perfbench import loadgen

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def review_id(author: str, content: str, visit_date: str) -> str:
    return hashlib.sha256("|".join((author, content, visit_date)).encode()).hexdigest()


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

def check_stores(rest_rows, rev_rows, valid_ids, fetcher) -> list[str]:
    problems = []
    rest = Counter((r[0], r[1]) for r in rest_rows)
    want_rest = {(p, loadgen.restaurant(p)["name"]) for p in valid_ids}
    if any(n > 1 for n in rest.values()):
        problems.append("restaurant store: a place_id appears twice")
    if set(rest) != want_rest:
        problems.append(f"restaurant store: {len(set(rest) - want_rest)} unexpected, "
                        f"{len(want_rest - set(rest))} missing places")
    # the store is partitioned by place_id, so partition discovery may
    # read numeric place ids back as integers
    rev_rows = [(str(r[0]), *r[1:]) for r in rev_rows]
    keys = Counter((r[0], r[1]) for r in rev_rows)
    if any(n > 1 for n in keys.values()):
        problems.append("review store: a (place_id, id) appears twice")
    bad_ids = sum(1 for r in rev_rows if r[1] != review_id(r[2], r[3], r[4]))
    if bad_ids:
        problems.append(f"review store: {bad_ids} ids are not sha256(author|content|visit_date)")
    got = {(r[0], r[2], r[3], r[4]) for r in rev_rows}
    want = loadgen.expected_reviews(fetcher, valid_ids)
    if got != want or len(rev_rows) != len(want):
        problems.append(f"review store: {len(rev_rows)} rows, {len(got - want)} unexpected, "
                        f"{len(want - got)} missing of {len(want)}")
    return problems


def expected_payload(fetcher, place_id: str) -> set[tuple]:
    return {
        (int(place_id), rv["content"], review_id(rv["author"], rv["content"], rv["visit_date"]))
        for rv in fetcher.reviews(place_id)
    }


def check_read(place_id: str, rows, expected: set, limit: int) -> list[str]:
    if len(set(rows)) != len(rows) or not set(rows) <= expected:
        return [f"read of {place_id}: rows not among the place's payloads"]
    if len(rows) not in (0, min(limit, len(expected))):
        return [f"read of {place_id}: {len(rows)} rows, expected {min(limit, len(expected))}"]
    return []


# ---------------------------------------------------------------------------
# oracle comparison (as the repository's oracle sweep compares)
# ---------------------------------------------------------------------------

def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def _kind(dtype):
    k = getattr(dtype, "kind", None)
    return "int" if k in ("i", "u") else "float" if k == "f" else None


def compare_frames(spark_pd, duck_pd) -> str | None:
    if len(spark_pd) != len(duck_pd):
        return f"rowcount spark={len(spark_pd)} oracle={len(duck_pd)}"
    cols = list(spark_pd.columns)
    if sorted(cols) != sorted(duck_pd.columns):
        return f"columns spark={cols} oracle={list(duck_pd.columns)}"
    duck_pd = duck_pd[cols]
    for c in cols:
        sk, dk = _kind(spark_pd[c].dtype), _kind(duck_pd[c].dtype)
        if sk and dk and sk != dk:
            return f"dtype of {c}: spark={spark_pd[c].dtype} oracle={duck_pd[c].dtype}"

    def render(df):
        return sorted(tuple(_norm(v) for v in t) for t in df.itertuples(index=False, name=None))

    if render(spark_pd) != render(duck_pd):
        return "values differ"
    return None


def duck(tables: str):
    """A DuckDB connection with a view per table written under `tables`."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(f"{tables}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    return con


# ---------------------------------------------------------------------------
# retrieval
# ---------------------------------------------------------------------------

_QT_VALUES = re.compile(r"(qt\(query_id, term\) AS \(VALUES )(?:\(\d+, '[^']*'\)(?:, )?)+\)")


def _values(terms: dict) -> str:
    """The VALUES rows of the registry BM25 oracle's query-term CTE."""
    return ", ".join(f"({q}, '{t}')" for q, ts in sorted(terms.items()) for t in ts)


def bm25_reference(con, terms: dict, k: int) -> dict[int, list[tuple]]:
    """Per query, [(doc_id, score, rank)] from the registry's BM25 oracle
    with the request's terms substituted for the pinned ones."""
    from wellmeet_data_pipeline_spark.plans.queries import REGISTRY

    oracle = REGISTRY["bm25_topk"].oracle
    cut = "WHERE rnk <= 10"
    sql, n = _QT_VALUES.subn(lambda m: m.group(1) + _values(terms) + ")", oracle)
    if n != 1 or cut not in sql:
        raise RuntimeError("the registry BM25 oracle no longer has the expected shape")
    sql = sql.replace(cut, f"WHERE rnk <= {k}")
    out: dict[int, list] = {}
    for q, d, s, r in con.execute(sql).fetchall():
        out.setdefault(int(q), []).append((int(d), float(s), int(r)))
    return {q: sorted(v, key=lambda x: x[2]) for q, v in out.items()}


def cosine_reference(queries: np.ndarray, cand_ids: np.ndarray, cands: np.ndarray,
                     digits: int, exclude_same_id: np.ndarray | None = None):
    """Per query row, every candidate as (id, rounded cosine), best first
    with ties by id — the order the operator's contract fixes."""
    q = queries.astype(np.float64)
    c = cands.astype(np.float64)
    sims = (q @ c.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(c, axis=1))
    sims = np.round(sims, digits)
    out = []
    for i in range(len(q)):
        keep = np.ones(len(c), bool) if exclude_same_id is None else cand_ids != exclude_same_id[i]
        ids, s = cand_ids[keep], sims[i][keep]
        order = np.lexsort((ids, -s))
        out.append([(int(ids[j]), float(s[j])) for j in order])
    return out


def ranked_matches(got: list[tuple], ref: list[tuple], k: int, tol: float) -> bool:
    """`got` [(id, score)] in rank order equals the first k of `ref`,
    except that ids whose reference scores are within `tol` may swap."""
    if len(got) != min(k, len(ref)):
        return False
    ref_score = dict(ref)
    for i, (gid, gs) in enumerate(got):
        if abs(gs - ref[i][1]) > tol or gid not in ref_score:
            return False
        if gid != ref[i][0] and abs(ref_score[gid] - ref[i][1]) > tol:
            return False
    return len({g for g, _ in got}) == len(got)


def _embeddings(tables: str):
    import pandas as pd

    e = pd.read_parquet(f"{tables}/embeddings.parquet")
    return e["vec_id"].to_numpy(), np.stack(e["embedding"].to_numpy())


def check_retrieval(requests, results: dict, tables: str, seed: int, k: int) -> list[str]:
    from wellmeet_data_pipeline_spark.plans.queries import REGISTRY

    con = duck(tables)
    ids, vecs = _embeddings(tables)
    problems = []
    by_kind: dict[str, list[int]] = {}
    for i in sorted(results):
        by_kind.setdefault(requests[i].get("query", requests[i]["kind"]), []).append(i)

    # pinned: the first result of each pinned query against its oracle
    for name in ("bm25_topk", "hybrid_rrf_topk"):
        if name in by_kind:
            got = results[by_kind[name][0]]
            err = compare_frames(got, con.execute(REGISTRY[name].oracle).fetchdf())
            if err:
                problems.append(f"{name}: {err}")
    if "cosine_topk_bruteforce" in by_kind:
        got = results[by_kind["cosine_topk_bruteforce"][0]]
        ref = cosine_reference(vecs, ids, vecs, 4, exclude_same_id=ids)
        per_q: dict[int, list] = {}
        for r in got.sort_values(["query_id", "rank"]).itertuples(index=False):
            per_q.setdefault(int(r.query_id), []).append((int(r.neighbor_id), float(r.cosine_sim)))
        if set(per_q) != {int(x) for x in ids} or not all(
            ranked_matches(per_q[int(qid)], ref[i], 5, 1e-9) for i, qid in enumerate(ids)
        ):
            problems.append("cosine_topk_bruteforce: differs from the exact evaluation")

    # a seeded sample of the generated requests
    rng = random.Random(f"{seed}:gate")
    for kind in ("bm25", "vector", "hybrid"):
        for i in rng.sample(by_kind.get(kind, []), min(2, len(by_kind.get(kind, [])))):
            err = _check_request(con, requests[i], results[i], ids, vecs, k)
            if err:
                problems.append(f"request {i} ({kind}): {err}")
    return problems


def _check_request(con, req, rows, ids, vecs, k) -> str | None:
    if req["kind"] == "bm25":
        ref = bm25_reference(con, req["terms"], k)
        got: dict[int, list] = {}
        for q, d, s, r in rows:
            got.setdefault(int(q), []).append((int(d), float(s), int(r)))
        got = {q: sorted(v, key=lambda x: x[2]) for q, v in got.items()}
        return None if got == ref else "BM25 ranking differs from the oracle"
    qv = np.array(req["vectors"], dtype=np.float32)
    cos = cosine_reference(qv, ids, vecs, 6)
    if req["kind"] == "vector":
        got = {}
        for q, n, s, r in sorted(rows, key=lambda x: (x[0], x[3])):
            got.setdefault(int(q) - loadgen.QUERY_VEC_BASE, []).append((int(n), float(s)))
        ok = set(got) == set(range(len(qv))) and all(
            ranked_matches(got[i], cos[i], k, 1e-9) for i in range(len(qv)))
        return None if ok else "cosine top-k differs from the exact evaluation"
    # hybrid: RRF over the BM25 oracle top-2k and the exact cosine top-2k
    lexical = bm25_reference(con, req["terms"], 2 * k)
    got = {}
    for q, d, score, r0, r1, rank in rows:
        got.setdefault(int(q), []).append((int(d), score, r0, r1, int(rank)))
    for q in range(len(qv)):
        if any(abs(a[1] - b[1]) <= 1e-9 for a, b in zip(cos[q][: 2 * k], cos[q][1: 2 * k + 1])):
            continue  # a cosine tie at the cut makes the fused order ambiguous
        ranks: dict[int, list] = {}
        for d, _s, r in lexical.get(q, []):
            ranks.setdefault(d, [None, None])[0] = r
        for r, (d, _s) in enumerate(cos[q][: 2 * k], start=1):
            ranks.setdefault(d, [None, None])[1] = r
        scored = []
        for d, (r0, r1) in ranks.items():
            s = (0.0 if r0 is None else 1.0 / float(60 + r0)) + (0.0 if r1 is None else 1.0 / float(60 + r1))
            scored.append((-s, d, r0, r1))
        scored.sort()
        want = [(d, -ns, r0, r1, i + 1) for i, (ns, d, r0, r1) in enumerate(scored[:k])]
        if sorted(got.get(q, []), key=lambda x: x[4]) != want:
            return "hybrid ranking differs from the reference fusion"
    return None
