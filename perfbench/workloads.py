"""The benchmark's workloads: ingest and retrieval.

Each workload has three phases.  `setup` starts from a fresh Spark
session and ends when the first timed operation may start (it includes
the warm-up).  `measure` runs one timed window; a second call runs
another window that continues the same streams.  `check` is the untimed
correctness gate over everything measured.  Only the package's public
functions are called.

`measure` returns the same figures for every workload:

  latencies  the samples behind latency_p50_s / latency_p90_s
  requests   requests the workload's closed-loop clients completed
  elapsed_s  the time those requests took, from the window's start
  attempted, failed
  layers     per-layer figures the workload measures itself
  notes      diagnostics, printed before the result line

Spans: `self.tracer` is a null tracer until the traced window.  The
package's public functions are wrapped by the tracer itself (see
harness.TRACED); a workload opens only the root span of each request
and, around the action that runs a lazy function's plan, a span named
`<function span>.collect`, whose time the report adds to that function.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import threading
import time

from perfbench import gates, loadgen
from perfbench.harness import NullTracer, Window, latency_stats


def _walk_files(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix) and not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


# ---------------------------------------------------------------------------
# ingest: open-loop landing files, activations, and a reader beside them
# ---------------------------------------------------------------------------

class Ingest:
    """Restaurant files land on a fixed schedule while the loop keeps
    running `run_orchestration` activations with a key cap and a backlog
    store; one reader thread runs the save-reviews read path in a closed
    loop.  Latency is each file's freshness: from its scheduled landing
    time to the end of the activation whose file-source log lists it.
    The reader's reads are the workload's requests.

    The landing rate is a fifth to a half of the measured sustainable
    rate: an activation costs about 6 s plus 0.2-0.5 s per landed file
    on a 4-core machine, so the backlog starts to grow near 2-5 files/s
    (README.md, "Ingest rate").  The key cap is above the new places an
    activation holds at that rate, so every activation ingests its
    reviews in one round and activations stay alike."""

    PER_FILE = 1          # restaurant records per landed file
    INTERVAL_S = 1.0      # one file every INTERVAL_S seconds
    UNIVERSE = 4000       # places the Zipf draw picks from
    MAX_KEYS = 16         # fan-out key cap per round
    PREFILL_FILES = 24    # files landed before the timed window
    WARM_FILES = 4        # files landed before the warm activation
    READ_LIMIT = 10       # project_payloads limit per event

    def __init__(self, spark, seed: int, work: str):
        from wellmeet_data_pipeline_spark import catalog

        self.spark, self.seed, self.work = spark, seed, work
        self.tracer = NullTracer()
        self.land = os.path.join(work, "landing")
        self.rest = os.path.join(work, "restaurants")
        self.rev = os.path.join(work, "reviews")
        self.ckpt = os.path.join(work, "checkpoint")
        self.backlog = os.path.join(work, "backlog")
        os.makedirs(self.land)
        self.feed = loadgen.LandingFeed(seed, self.UNIVERSE, self.PER_FILE, prefix="1")
        self.fetcher = loadgen.ReviewFetcher(seed)
        self.reader_rng = random.Random(f"{seed}:reader")
        self.listed: set[str] = set()
        self.reads: list[tuple[str, list]] = []
        self.activations = 0
        catalog.ensure_workers_can_import(spark)

    # -- the system under test ------------------------------------------------
    def activate(self) -> list[str]:
        """One activation; returns the landed files it newly committed."""
        from wellmeet_data_pipeline_spark.streaming.orchestration import run_orchestration

        with self.tracer.span("ingest.activation", root=True, request=f"act{self.activations}",
                              adopt=True):
            run_orchestration(
                self.spark, self.land, self.rest, self.rev, self.ckpt, self.fetcher,
                max_keys_per_batch=self.MAX_KEYS, backlog_store=self.backlog,
            )
        self.activations += 1
        new = sorted(self.source_log_files() - self.listed)
        self.listed.update(new)
        return new

    def records(self, files) -> list[dict]:
        """The records of the given landed files."""
        out = []
        for name in sorted(files):
            with open(os.path.join(self.land, name)) as fh:
                out += json.load(fh)
        return out

    def committed_places(self) -> set[str]:
        """Places of the valid records in the files the source log lists."""
        return {r["place_id"] for r in self.records(self.listed)
                if r["place_id"] is not None and r["name"] is not None}

    def source_log_files(self) -> set[str]:
        """Landed files listed in the file-source log (`<ckpt>/sources/0`)."""
        log_dir = os.path.join(self.ckpt, "sources", "0")
        out = set()
        if not os.path.isdir(log_dir):
            return out
        for name in os.listdir(log_dir):
            if name.startswith("."):
                continue
            with open(os.path.join(log_dir, name)) as fh:
                for line in fh.read().splitlines()[1:]:
                    if line.strip():
                        out.add(os.path.basename(json.loads(line)["path"]))
        return out

    def read(self, place_id: str) -> list:
        """The save-reviews read path: current reviews of one place,
        projected to the API payload."""
        from pyspark.sql import functions as F
        from wellmeet_data_pipeline_spark.pipelines import project_payloads
        from wellmeet_data_pipeline_spark.sinks.merge import read_current

        cur = read_current(self.spark, self.rev, id_col=["place_id", "id"])
        payloads = project_payloads(cur.filter(F.col("place_id") == place_id), self.READ_LIMIT)
        with self.tracer.span("sinks.read_current.collect"):
            return [tuple(r) for r in payloads.collect()]

    # -- phases ----------------------------------------------------------------
    def setup(self) -> None:
        """Pre-fill the stores through one cold activation (it holds more
        new places than the key cap, so it also drains the backlog), then
        run one warm activation beside a read: activations keep getting
        faster for a few runs after the cold one."""
        for _ in range(self.PREFILL_FILES):
            self.feed.write_file(self.land, self.feed.next_file())
        self.activate()
        for _ in range(self.WARM_FILES):
            self.feed.write_file(self.land, self.feed.next_file())
        self.read(sorted(self.feed.valid_ids)[0])
        self.activate()

    def measure(self, seconds: float) -> dict:
        sched = loadgen.Scheduler(self.feed, self.land, self.INTERVAL_S)
        stop = threading.Event()
        reads: list[tuple[float, float, str, list | None]] = []  # start, end, place, rows
        read_errors: list[BaseException] = []
        start_files, start_bytes = _walk_files(self.work)
        places_before = self.committed_places()
        window = Window(seconds)

        def reader():
            i = 0
            while window.open():
                pool = sorted(self.feed.valid_ids)
                place = pool[self.reader_rng.randrange(len(pool))]
                t0 = time.monotonic()
                try:
                    with self.tracer.span("ingest.read", root=True, request=f"read{i}"):
                        rows = self.read(place)
                except Exception as e:  # counted as a failed read
                    read_errors.append(e)
                    rows = None
                reads.append((t0, time.monotonic(), place, rows))
                i += 1

        gen = threading.Thread(target=sched.run, args=(window.start, stop, window.deadline))
        rd = threading.Thread(target=reader)
        gen.start()
        rd.start()
        committed_at: dict[str, float] = {}
        per_activation: list[int] = []
        durations: list[float] = []
        try:
            while window.open():
                t0 = time.monotonic()
                new = self.activate()
                durations.append(time.monotonic() - t0)
                per_activation.append(len(new))
                committed_at.update(dict.fromkeys(new, time.monotonic()))
        finally:
            stop.set()
            gen.join()
            rd.join()
        acts_in_window = len(per_activation)
        backlog_end = len(set(sched.landed) - set(committed_at))
        # one more activation commits what landed in the window, so no
        # file's freshness is censored
        catch_up_s = 0.0
        if backlog_end:
            t0 = time.monotonic()
            new = self.activate()
            catch_up_s = time.monotonic() - t0
            committed_at.update(dict.fromkeys(new, time.monotonic()))
        fresh = [committed_at[f] - due for f, (due, _) in sched.landed.items() if f in committed_at]
        lag = [written - due for due, written in sched.landed.values()]
        # at a sustainable rate the files pending at the deadline landed
        # during the last activation, about as many as any activation
        # held; twice that means the backlog grew
        over_rate = backlog_end > 2 * max(per_activation + [1])
        end_files, end_bytes = _walk_files(self.work)
        # the gate checks that the stores hold exactly the expected rows
        # of the committed files, so the rows a correct run commits are known
        landed = self.records(committed_at)
        new_places = self.committed_places() - places_before
        committed = len(new_places) + len(loadgen.expected_reviews(self.fetcher, new_places))
        fetched = sum(len(self.fetcher.reviews(p)) for p in new_places)
        self.reads += [(place, rows) for _, _, place, rows in reads if rows is not None]
        read_lat = [b - a for a, b, _, rows in reads if rows is not None]
        read_stats = latency_stats(read_lat)
        return {
            "latencies": fresh,
            "requests": len(read_lat),
            "elapsed_s": max(b for _, b, _, _ in reads) - window.start,
            "attempted": len(sched.landed) + len(reads),
            "failed": len(sched.landed) - len(fresh) + len(read_errors),
            "layers": {
                "streaming.activations": acts_in_window,
                "streaming.activation_busy_s": sum(durations),
                "streaming.files_per_activation": sum(per_activation) / max(1, acts_in_window),
                "streaming.backlog_files_end": backlog_end,
                "streaming.generator_lag_p90_s": latency_stats(lag)["p90"],
                "sources.landing_files_read": len(fresh),
                "sinks.files_written": end_files - start_files,
                "sinks.store_files_end": _walk_files(self.rest)[0] + _walk_files(self.rev)[0],
                "sinks.useful_ratio": committed / max(1, len(landed) + fetched),
                "sinks.read_latency_p50_s": read_stats["p50"],
                "sinks.read_latency_p90_s": read_stats["p90"],
            },
            "notes": {
                "files_landed": len(sched.landed),
                "files_committed": len(fresh),
                "activation_s": [round(d, 2) for d in durations],
                "files_per_activation": per_activation,
                "backlog_files_at_deadline": backlog_end,
                "over_sustainable_rate": over_rate,
                "read_latency_p50_s": read_stats["p50"],
                "read_latency_p90_s": read_stats["p90"],
                "rows_per_s": committed / (sum(durations) + catch_up_s),
                "bytes_written": end_bytes - start_bytes,
            },
        }

    def check(self) -> list[str]:
        from wellmeet_data_pipeline_spark.sinks.merge import read_current

        rest = read_current(self.spark, self.rest, id_col="place_id")
        rev = read_current(self.spark, self.rev, id_col=["place_id", "id"])
        problems = gates.check_stores(
            rest.select("place_id", "name").collect(),
            rev.select("place_id", "id", "author", "content", "visit_date").collect(),
            self.committed_places(), self.fetcher,
        )
        expected = {}
        for place, rows in self.reads:
            if place not in expected:
                expected[place] = gates.expected_payload(self.fetcher, place)
            problems += gates.check_read(place, rows, expected[place], self.READ_LIMIT)
        return problems


# ---------------------------------------------------------------------------
# retrieval: two closed-loop clients over the corpus and the embeddings
# ---------------------------------------------------------------------------

class Retrieval:
    """BM25, brute-force cosine and hybrid (RRF-fused) requests, plus the
    registry's pinned retrieval queries, from two closed-loop clients."""

    CLIENTS = 2
    K = 10
    TABLES = ("documents", "embeddings")

    def __init__(self, spark, seed: int, work: str, tables: str):
        from wellmeet_data_pipeline_spark.catalog import table

        self.spark, self.seed, self.tables = spark, seed, tables
        self.tracer = NullTracer()
        self.docs = table(spark, tables, "documents")
        self.emb = table(spark, tables, "embeddings")
        self.requests = loadgen.retrieval_requests(seed, 40 * len(loadgen.KIND_CYCLE))
        self.results: dict[int, list] = {}

    def _vectors(self, vecs):
        rows = [(loadgen.QUERY_VEC_BASE + i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        return self.spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def execute(self, req: dict) -> list:
        from pyspark.sql import functions as F
        from wellmeet_data_pipeline_spark.operators.retrieval import bm25_topk, rrf_fuse
        from wellmeet_data_pipeline_spark.operators.similarity import brute_force_top_k
        from wellmeet_data_pipeline_spark.plans.queries import REGISTRY

        kind = req["kind"]
        if kind == "pinned":
            with self.tracer.span(f"plans.{req['query']}"):
                return REGISTRY[req["query"]].fn(self.spark, self.tables).toPandas()
        if kind == "bm25":
            out, action = bm25_topk(self.docs, req["terms"], k=self.K), "operators.retrieval.bm25_topk"
        elif kind == "vector":
            out = brute_force_top_k(self._vectors(req["vectors"]), self.emb, k=self.K)
            action = "operators.similarity.brute_force_top_k"
        else:
            # the fused plan runs BM25, cosine and RRF in one action, so
            # its time is reported under a name of its own
            lexical = bm25_topk(self.docs, req["terms"], k=2 * self.K)
            dense = brute_force_top_k(self._vectors(req["vectors"]), self.emb, k=2 * self.K).select(
                (F.col("query_id") - loadgen.QUERY_VEC_BASE).cast("int").alias("query_id"),
                F.col("neighbor_id").alias("doc_id"),
                "rank",
            )
            out, action = rrf_fuse([lexical, dense], k=self.K), "operators.hybrid"
        with self.tracer.span(f"{action}.collect"):
            return [tuple(r) for r in out.collect()]

    def setup(self) -> None:
        """Warm up on one request of each generated kind, from a stream of
        its own (the pinned BM25 query runs the BM25 operator)."""
        warm = loadgen.retrieval_requests(self.seed + 1, len(loadgen.KIND_CYCLE))
        self._serve([r for r in warm if r["kind"] != "pinned"], {}, [])

    def _serve(self, requests, results: dict, spans: list) -> list:
        """Run `requests` in order from the clients in a closed loop;
        returns the failures."""
        todo = iter(requests)
        failures: list[BaseException] = []
        lock = threading.Lock()

        def client():
            while True:
                with lock:
                    req = next(todo, None)
                if req is None:
                    return
                t0 = time.monotonic()
                try:
                    with self.tracer.span(f"retrieval.{req['kind']}", root=True, request=req["id"]):
                        rows = self.execute(req)
                except Exception as e:
                    with lock:
                        failures.append(e)
                    continue
                with lock:
                    spans.append((t0, time.monotonic()))
                    results[req["id"]] = rows

        threads = [threading.Thread(target=client) for _ in range(self.CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return failures

    def measure(self, seconds: float) -> dict:
        """Whole cycles of the request stream, from its start, so every
        window times the same mix of kinds; another cycle starts only if
        one as long as the last still fits in the window."""
        window = Window(seconds)
        n = len(loadgen.KIND_CYCLE)
        spans: list[tuple[float, float]] = []
        failures: list[BaseException] = []
        for c in itertools.count():
            t0 = time.monotonic()
            failures += self._serve(self.requests[c * n:(c + 1) * n], self.results, spans)
            if window.left() < time.monotonic() - t0:
                break
        return {
            "latencies": [b - a for a, b in spans],
            "requests": len(spans),
            "elapsed_s": max(b for _, b in spans) - window.start,
            "attempted": len(spans) + len(failures),
            "failed": len(failures),
            "layers": {},
            "notes": {"cycles": c + 1},
        }

    def check(self) -> list[str]:
        return gates.check_retrieval(self.requests, self.results, self.tables, self.seed, self.K)


WORKLOADS = {"ingest": Ingest, "retrieval": Retrieval}
