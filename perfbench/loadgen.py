"""Seeded load generator, kept apart from the system under test.

Everything the benchmark feeds the pipeline comes from here and depends
only on the seed: the parquet tables the query registry reads, the
restaurant landing files and their schedule, the review fetcher the
pipeline calls back into, and the retrieval request stream.  The
generator also knows what a correct run must leave behind (the
exactly-once store contents), which is what the correctness gates
compare against.

Randomness is drawn from `random.Random` seeded with strings, which
hashes them with SHA-512, so values do not depend on the process (the
fetcher runs inside Spark's Python workers).
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import random
import time

import numpy as np
import pandas as pd

# The registry corpus vocabulary: the pinned retrieval queries use these
# terms, so every generated corpus contains all of them.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def _rng(seed: int, *tags) -> random.Random:
    return random.Random(":".join(str(t) for t in (seed, *tags)))


def zipf_sampler(rng: random.Random, n: int, s: float = 1.1):
    """Draw ranks 0..n-1 with P(rank r) proportional to 1/(r+1)^s."""
    cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n)))
    return lambda: bisect.bisect_left(cum, rng.random() * cum[-1])


# ---------------------------------------------------------------------------
# Registry tables (the names, columns and types the query registry reads)
# ---------------------------------------------------------------------------

def write_tables(seed: int, out_dir: str, sf: float = 0.1, names=None) -> None:
    """Write the registry tables `names` (default: all ten) at scale
    factor `sf` as parquet.  Every table is drawn whatever `names` holds,
    so a table's bytes do not depend on which others are written."""
    os.makedirs(out_dir, exist_ok=True)
    g = np.random.default_rng(hash_seed(seed, "tables"))
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vec = int(50_000 * sf), int(20_000 * sf)

    def money(lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    def days(start, span, n):
        base = np.datetime64(start, "us")
        return base + g.integers(0, span, n).astype("timedelta64[D]")

    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": g.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": g.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": g.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}" for a, b in zip(
                    g.choice(["blue", "cold", "hot", "large", "new", "old", "red", "small"], n_part),
                    g.choice(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"], n_part),
                )
            ],
            "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n_part)],
            "p_type": g.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": g.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": g.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": g.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": days("1995-01-01", 2404, n_ord),
            "o_orderpriority": g.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pd.DataFrame({
            "l_orderkey": g.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": g.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": g.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": g.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": g.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900, 105_000, n_line),
            "l_discount": g.integers(0, 11, n_line) / 100.0,
            "l_tax": g.integers(0, 9, n_line) / 100.0,
            "l_returnflag": g.choice(["A", "N", "R"], n_line),
            "l_linestatus": g.choice(["F", "O"], n_line),
            "l_shipdate": days("1995-01-02", 2498, n_line),
        }),
        "events": pd.DataFrame({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.sort(
                np.datetime64("2024-01-01", "us")
                + g.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
            ),
            "user_id": g.integers(0, max(150, int(1500 * sf)), n_ev).astype(np.int64),
            "event_type": g.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": money(0.01, 490.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
        }),
    }
    words = np.array(VOCAB)
    texts = [" ".join(words[g.integers(0, len(words), g.integers(8, 100))]) for _ in range(n_docs)]
    tables["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": g.choice(["de", "en", "en", "en", "es", "fr", "zh"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = g.normal(0, 1, (10, EMBED_DIM))
    labels = g.integers(0, 10, n_vec)
    vecs = (centers[labels] + g.normal(0, 1.5, (n_vec, EMBED_DIM))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    })
    for name, df in tables.items():
        if names is None or name in names:
            df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


def hash_seed(seed: int, tag: str) -> int:
    return _rng(seed, tag).getrandbits(63)


# ---------------------------------------------------------------------------
# Restaurants, landing files and the review fetcher
# ---------------------------------------------------------------------------

CATEGORIES = ["korean", "japanese", "cafe", "bar", "bakery", "chinese", "western"]


def restaurant(place_id: str) -> dict:
    """The one record a place always lands with, so re-deliveries and
    repeated draws carry identical content."""
    r = random.Random(place_id)
    return {
        "place_id": place_id,
        "name": f"place {place_id[-5:]}",
        "thumbnail_url": f"https://img.example/{place_id}.jpg",
        "category": r.choice(CATEGORIES),
        "page": r.randint(1, 4),
        "origin_address": f"Seoul {r.randint(1, 400)}-{r.randint(1, 90)}",
        "address": None,
        "latitude": round(37.4 + r.random() / 5, 6),
        "longitude": round(126.8 + r.random() / 3, 6),
    }


class ReviewFetcher:
    """Deterministic, instant stand-in for the review crawl: a place's
    reviews depend only on (seed, place_id).  Review counts are skewed
    (a few places hold most reviews) and a fixed share of each page is
    re-crawled duplicates of reviews already on it."""

    def __init__(self, seed: int, max_reviews: int = 24, dup_share: float = 0.15):
        self.seed = seed
        self.max_reviews = max_reviews
        self.dup_share = dup_share

    def reviews(self, place_id: str) -> list[dict]:
        r = _rng(self.seed, "reviews", place_id)
        n = 1 + int(self.max_reviews * r.random() ** 3)
        out = [
            {
                "author": f"user{r.randrange(5000)}",
                "content": " ".join(r.choice(VOCAB) for _ in range(r.randint(3, 12))),
                "visit_date": f"2024.{r.randint(1, 12)}.{r.randint(1, 28)}.",
                "place_id": place_id,
            }
            for _ in range(n)
        ]
        out += [dict(r.choice(out)) for _ in range(int(n * self.dup_share + r.random()))]
        return out

    def __call__(self, key: str, page: int) -> list[dict]:
        return self.reviews(key) if page == 1 else []


def expected_reviews(fetcher: ReviewFetcher, place_ids) -> set[tuple]:
    """Exactly-once review contents for the given places."""
    return {
        (rv["place_id"], rv["author"], rv["content"], rv["visit_date"])
        for p in place_ids
        for rv in fetcher.reviews(p)
    }


class LandingFeed:
    """Restaurant landing files.  Each file holds `per_file` records drawn
    Zipf-style from a universe of places; `redeliver_share` of the slots
    repeat a record from an earlier file and `invalid_share` are records
    missing place_id or name, which the pipeline must drop."""

    def __init__(self, seed: int, universe: int, per_file: int, prefix: str = "P",
                 redeliver_share: float = 0.1, invalid_share: float = 0.05):
        self.rng = _rng(seed, "landing", prefix)
        self.universe = [f"{prefix}{i:07d}" for i in range(universe)]
        self.rng.shuffle(self.universe)
        self.draw = zipf_sampler(self.rng, universe)
        self.per_file = per_file
        self.redeliver_share = redeliver_share
        self.invalid_share = invalid_share
        self.delivered: list[dict] = []
        self.valid_ids: set[str] = set()
        self.n_files = 0

    def next_file(self) -> list[dict]:
        rows = []
        for _ in range(self.per_file):
            u = self.rng.random()
            if u < self.invalid_share:
                rec = restaurant(f"X{self.rng.randrange(10**7):07d}")
                rec["place_id" if self.rng.random() < 0.5 else "name"] = None
            elif u < self.invalid_share + self.redeliver_share and self.delivered:
                rec = dict(self.rng.choice(self.delivered))
            else:
                rec = restaurant(self.universe[self.draw()])
                self.delivered.append(rec)
            if rec["place_id"] is not None and rec["name"] is not None:
                self.valid_ids.add(rec["place_id"])
            rows.append(rec)
        self.n_files += 1
        return rows

    def write_file(self, landing_dir: str, rows: list[dict]) -> str:
        """Land one file atomically (write aside, then rename in), as an
        object store makes a PUT visible all at once."""
        name = f"restaurants-{self.n_files:06d}.json"
        tmp = os.path.join(landing_dir, f".{name}.tmp")
        with open(tmp, "w") as fh:
            json.dump(rows, fh, ensure_ascii=False, sort_keys=True)
        path = os.path.join(landing_dir, name)
        os.rename(tmp, path)
        return path


class Scheduler:
    """Open-loop landing scheduler: file i is due at start + i * interval.
    It records each file's due and actual write time, so generator
    lateness is reported rather than hidden in the latencies."""

    def __init__(self, feed: LandingFeed, landing_dir: str, interval_s: float):
        self.feed = feed
        self.landing_dir = landing_dir
        self.interval_s = interval_s
        self.landed: dict[str, tuple[float, float]] = {}  # file name -> (due, written)

    def run(self, start: float, stop, deadline: float) -> None:
        i = 0
        while not stop.is_set():
            due = start + i * self.interval_s
            if due >= deadline:
                return
            wait = due - time.monotonic()
            if wait > 0 and stop.wait(wait):
                return
            path = self.feed.write_file(self.landing_dir, self.feed.next_file())
            self.landed[os.path.basename(path)] = (due, time.monotonic())
            i += 1


# ---------------------------------------------------------------------------
# Request streams
# ---------------------------------------------------------------------------

PINNED_RETRIEVAL = ("bm25_topk", "hybrid_rrf_topk", "cosine_topk_bruteforce")
QUERY_VEC_BASE = 1_000_000  # ids of generated query vectors, apart from vec_id
# Request kinds repeat in this fixed cycle, so every run sees the same
# mix; one slot in four is a pinned registry request, and the pinned
# query rotates from one cycle to the next.
KIND_CYCLE = ("bm25", "vector", "hybrid", "pinned")


def retrieval_requests(seed: int, n: int) -> list[dict]:
    """Seeded retrieval requests: BM25 term sets drawn Zipf-style from the
    vocabulary (so requests share terms), 1-16 query vectors, hybrids of
    the two, and the registry's pinned requests."""
    r = _rng(seed, "retrieval")
    g = np.random.default_rng(hash_seed(seed, "qvec"))
    vocab = sorted(VOCAB, key=lambda w: _rng(seed, "vocab", w).random())
    term = zipf_sampler(r, len(vocab))

    def terms():
        want = r.randint(1, 4)
        out: list[str] = []
        while len(out) < want:
            t = vocab[term()]
            if t not in out:
                out.append(t)
        return out

    def vectors(m):
        v = g.normal(0, 1, (m, EMBED_DIM))
        return [[float(x) for x in row] for row in (v / np.linalg.norm(v, axis=1, keepdims=True))]

    reqs = []
    for i in range(n):
        kind = KIND_CYCLE[i % len(KIND_CYCLE)]
        req = {"id": i, "kind": kind}
        if kind == "pinned":
            req["query"] = PINNED_RETRIEVAL[(i // len(KIND_CYCLE)) % len(PINNED_RETRIEVAL)]
        m = r.randint(1, 16) if kind == "vector" else r.randint(1, 4)
        if kind in ("bm25", "hybrid"):
            req["terms"] = {q: terms() for q in range(m)}
        if kind in ("vector", "hybrid"):
            req["vectors"] = vectors(m)
        reqs.append(req)
    return reqs
