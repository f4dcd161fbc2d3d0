"""Fault-injection soak for the full §3.3 orchestration DAG (r8 verdict
item 5): >= 3 micro-batches with (a) an induced ONCE-failing task that
Spark's task retry absorbs and (b) an induced batch-level crash that the
streaming checkpoint + idempotent stores absorb across a restart.
Run in a subprocess so the SparkContext can enable task retries
(master local[4,2]) without disturbing the shared test session."""
import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)

from pyspark.sql import SparkSession

tmp = sys.argv[1]
landing = os.path.join(tmp, "landing")
os.makedirs(landing, exist_ok=True)
rest_store = os.path.join(tmp, "rest_store")
rev_store = os.path.join(tmp, "rev_store")
backlog = os.path.join(tmp, "backlog")
ckpt = os.path.join(tmp, "ckpt")
ledger = os.path.join(tmp, "fault_ledger")
os.makedirs(ledger, exist_ok=True)

spark = (
    SparkSession.builder.master("local[4,2]")  # 2 task attempts: retry absorbs 1 fault
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("orchestration-soak")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from wellmeet_data_pipeline_spark.sinks.merge import read_current
from wellmeet_data_pipeline_spark.streaming.orchestration import run_orchestration

_ledger = ledger  # baked into the fetcher closure, shipped to executors


def fetch(place_id, page):
    # Executor-side fault injection, tracked via a file ledger (local-mode
    # python workers share the filesystem, not module state):
    #  - p1: first attempt raises -> the TASK fails once, Spark's second
    #    attempt succeeds (maxFailures=2).
    #  - p3: first TWO attempts raise -> the task exhausts its attempts,
    #    the job and the streaming query die -> the harness restarts the
    #    stream and the checkpoint replays the batch (third attempt OK).
    import os as _os

    marks = [m for m in _os.listdir(_ledger) if m.startswith(place_id + ".")]
    want = {"p1": 1, "p3": 2}.get(place_id, 0)
    if len(marks) < want:
        open(_os.path.join(_ledger, f"{place_id}.{len(marks)}"), "w").close()
        raise RuntimeError(f"injected fault #{len(marks) + 1} for {place_id}")
    return [
        {"author": "a", "content": f"review {i} of {place_id}",
         "visit_date": "d", "place_id": place_id}
        for i in range(2)
    ]


def rest(pid, name):
    return {
        "place_id": pid, "name": name, "thumbnail_url": "", "category": "한식",
        "page": 1, "origin_address": "서울특별시 마포구 마포대로 109",
        "address": "서울특별시 마포구 마포대로 109", "latitude": None, "longitude": None,
    }


# on_batch consumes its micro-batch in one write (the restaurant-store
# commit), and numInputRows adds up the rows of every scan of the batch:
# each landed row counts once.
SCANS_PER_BATCH = 1


def n_input_rows(progress):
    return sum(p.numInputRows for p in progress)


def drop(fname, rows):
    with open(os.path.join(landing, fname), "w") as fh:
        json.dump(rows, fh, ensure_ascii=False)


def activate():
    """One availableNow activation; returns the stream's query progress."""
    return run_orchestration(
        spark, landing, rest_store, rev_store, ckpt, fetch,
        max_keys_per_batch=2, backlog_store=backlog,
    )


# batch 1: p1's fetch task fails once; the task RETRY must absorb it
drop("r1.json", [rest("p1", "집밥"), rest("p2", "국수")])
assert n_input_rows(activate()) == SCANS_PER_BATCH * 2
assert sorted(os.listdir(ledger)) == ["p1.0"], os.listdir(ledger)
assert read_current(spark, rev_store).count() == 4  # task retry was invisible

# batch 2: p3 fails BOTH task attempts -> the query itself must die
drop("r2.json", [rest("p3", "곱창")])
died = False
try:
    activate()
except Exception:
    died = True
assert died, "second activation should have failed (task attempts exhausted)"

# restart: checkpoint replays the failed batch; third fetch attempt succeeds.
# p3 is stored with no done mark, so it is still pending after the crash.
# Only r2.json's one restaurant replays.
assert n_input_rows(activate()) == SCANS_PER_BATCH * 1

# batch 3: p2 re-landed (no re-crawl) + p4 new
drop("r3.json", [rest("p2", "국수"), rest("p4", "순대")])
assert n_input_rows(activate()) == SCANS_PER_BATCH * 2

# exactly-once vs the batch twin: 4 places x 2 reviews, first version wins
rests = sorted(r["place_id"] for r in read_current(spark, rest_store, id_col="place_id").collect())
assert rests == ["p1", "p2", "p3", "p4"], rests
revs = read_current(spark, rev_store, id_col=["place_id", "id"])
got = sorted((r["place_id"], r["content"]) for r in revs.collect())
want = sorted((p, f"review {i} of {p}") for p in ["p1", "p2", "p3", "p4"] for i in range(2))
assert got == want, got
# the injected faults really happened: 1 task-retry mark + 2 crash marks
assert sorted(os.listdir(ledger)) == ["p1.0", "p3.0", "p3.1"], os.listdir(ledger)

spark.stop()
print("SOAK-OK")
