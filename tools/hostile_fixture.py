"""Adversarial oracle gate: derive a HOSTILE variant of the test tables
and run every oracle-backed registry query on it, Spark vs DuckDB.

Round-4 lesson: the driver regenerates testdata every round, and a data
property the current seed happens to satisfy (ASCII-only text) is one
seed away from breaking an oracle pair (the Java-\\s-vs-RE2 \\x0B
divergence).  This gate injects the corners a future seed could emit —
exotic whitespace (\\x0B, NBSP, U+3000), CJK + combining marks, empty
and whitespace-only text, SQL-hostile quoting, nulls in nullable
columns, negative and .xx5-boundary money values — into samples of the
REAL tables, then demands every query still hash-match its oracle.
Rows that merely vanish from both sides (fixed-value filters) still
pass: agreement is the contract, not non-emptiness.

Usage: python tools/hostile_fixture.py [base_sf_dir] [out_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

HOSTILE_TEXTS = [
    "a\x0bb vertical\x0btab",
    "\x0b leading and trailing \x0b",
    "nbsp\xa0joined\xa0words and　ideographic　space",
    "tab\tand\r\nCRLF and\fformfeed mix",
    "",
    " ",
    "\x0b",
    "   only   spaces   ",
    "한국어 서울특별시 강남구 테헤란로 123 문장 와 combining é marks",
    "quotes ' \" backslash \\ percent % underscore _ pipe | dollar $",
    "repeat repeat repeat repeat repeat repeat repeat repeat",
    "ONE",
    "mixed ASCII 한글 中文 123 !!! ??? ...",
    "a" * 600,
    ("word " * 120).strip(),
    "\x1c\x1d\x1e control separators \x1f inside",
]


def build(base: str, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    n_texts = len(HOSTILE_TEXTS)
    vals = ", ".join(
        "(" + str(i) + ", " + "'" + t.replace("'", "''") + "')"
        for i, t in enumerate(HOSTILE_TEXTS)
    )
    con.execute(f"CREATE TABLE hostile_texts (i INT, t TEXT); INSERT INTO hostile_texts VALUES {vals}")

    # documents: real rows with every (doc_id % n) slot's text swapped for a
    # hostile string; some lang/source nulled
    con.execute(
        f"""
        COPY (
          SELECT d.doc_id,
                 CASE WHEN d.doc_id % 41 = 11 THEN NULL
                      ELSE COALESCE(h.t, d.text) END AS text,
                 CASE WHEN d.doc_id % 17 = 3 THEN NULL ELSE d.lang END AS lang,
                 CASE WHEN d.doc_id % 19 = 4 THEN NULL ELSE d.source END AS source,
                 length(COALESCE(h.t, d.text)) AS n_chars
          FROM '{base}/documents.parquet' d
          LEFT JOIN hostile_texts h ON d.doc_id % 97 = h.i AND d.doc_id % 3 = 0
        ) TO '{out}/documents.parquet' (FORMAT PARQUET)
        """
    )
    # events: negative values, exact .xx5 rounding boundaries, null props.
    # A priority-ordered `cls` column keeps the per-column CASEs
    # consistent (a row classified __constdaily__ gets the constdaily
    # type AND ts AND value — three independent CASEs on different
    # moduli would disagree on CRT collisions).
    #
    # degenerate groups (r12, verdict item 5): the one-way k-sample
    # tests (ANOVA F / Brown-Forsythe / Kruskal-Wallis) have edges a
    # natural seed rarely forces — a single-row group (within-group df
    # contribution 0), a zero-variance group (|x-median| all 0; KW
    # all-tie correction), and a group whose values are ALL NULL (must
    # vanish from the valid-observation set entirely, not surface as an
    # n=0 group).
    #
    # time-series corners (r13, r12 verdict item 4), for the trend /
    # autocorrelation family over the daily event_type series:
    #   __constdaily__  one event per UNIQUE day (day = event_id // 61
    #                   is injective on the %61 residue class), constant
    #                   value — a constant daily series: Mann-Kendall
    #                   S = 0 (all ties), runs test fully degenerate
    #                   (every value equals the median), ACF variance 0
    #   __oneday__      every event on ONE calendar day — a 1-point
    #                   series: no MK/Theil-Sen pairs, no ACF lags
    #   __gappy__       11 day-slots 335 days apart — gap-heavy indices
    #                   near (under) Theil-Sen's documented di < 4096
    #                   floor-exactness bound; no lag-1..7 ACF pairs at
    #                   all, so the group must vanish from the
    #                   portmanteau on both sides identically
    #   __shortdense__  4 CONSECUTIVE days — a dense series shorter than
    #                   the 7-lag ACF window (only lags 1..3 exist)
    con.execute(
        f"""
        COPY (
          SELECT event_id,
                 -- null event-times: Spark windows order ASC NULLS FIRST,
                 -- DuckDB NULLS LAST — oracles carry explicit NULLS FIRST
                 -- so a null-ts seed cannot diverge them (r5 verdict #6)
                 -- outer CAST keeps the column TIMESTAMP_NS: the parquet
                 -- stays physical NANOS, the type catalog.table()'s
                 -- nanos rebuild expects (a TIMESTAMP promotion here
                 -- would silently change the Spark read path)
                 CAST(CASE
                   WHEN event_id % 43 = 8 THEN NULL
                   WHEN cls = 'constdaily' THEN
                     TIMESTAMP '2030-01-01' + INTERVAL (event_id // 61) DAY
                   WHEN cls = 'oneday' THEN TIMESTAMP '2029-06-15 12:00:00'
                   WHEN cls = 'gappy' THEN
                     TIMESTAMP '2031-01-01'
                     + INTERVAL (((event_id // 71) % 11) * 335) DAY
                   WHEN cls = 'shortdense' THEN
                     TIMESTAMP '2028-03-01'
                     + INTERVAL ((event_id // 73) % 4) DAY
                   ELSE ts END AS TIMESTAMP_NS) AS ts,
                 CASE WHEN event_id % 37 = 6 THEN NULL ELSE user_id END
                   AS user_id,
                 -- null types AND values (r11): the per-group histogram
                 -- windows (winsorized/levene medians) order NULL values
                 -- at opposite ends in Spark vs DuckDB — every event
                 -- query must carry explicit null handling on BOTH sides
                 CASE cls
                   WHEN 'singleton' THEN '__singleton__'
                   WHEN 'nulltype' THEN NULL
                   WHEN 'constval' THEN '__constval__'
                   WHEN 'allnull' THEN '__allnull__'
                   WHEN 'constdaily' THEN '__constdaily__'
                   WHEN 'oneday' THEN '__oneday__'
                   WHEN 'gappy' THEN '__gappy__'
                   WHEN 'shortdense' THEN '__shortdense__'
                   ELSE event_type END
                   AS event_type,
                 CASE
                   WHEN cls = 'allnull' THEN NULL
                   WHEN cls = 'constval' THEN 7.25
                   WHEN cls = 'constdaily' THEN 3.0
                   WHEN event_id % 29 = 11 THEN NULL
                   WHEN event_id % 13 = 0 THEN -value
                   WHEN event_id % 13 = 1 THEN 0.13
                   WHEN event_id % 13 = 2 THEN -0.13
                   WHEN event_id % 13 = 3 THEN 0.0
                   -- NOT 0.125: exact binary half-cents sit ON the
                   -- round() boundary where Spark (decimal shortest-repr
                   -- HALF_UP) and DuckDB (binary) legitimately diverge —
                   -- the documented measure-zero class in queries.py's
                   -- header; a real generator never lands there
                   ELSE value END AS value,
                 CASE WHEN event_id % 11 = 5 THEN NULL ELSE props END AS props
          FROM (
            SELECT *,
                   CASE
                     WHEN event_id = (SELECT min(event_id)
                                      FROM '{base}/events.parquet'
                                      WHERE event_id % 41 <> 7)
                       THEN 'singleton'
                     WHEN event_id % 41 = 7 THEN 'nulltype'
                     WHEN event_id % 53 IN (2, 19, 31) THEN 'constval'
                     WHEN event_id % 59 IN (4, 23) THEN 'allnull'
                     WHEN event_id % 61 = 5 THEN 'constdaily'
                     WHEN event_id % 67 = 13 THEN 'oneday'
                     WHEN event_id % 71 = 17 THEN 'gappy'
                     WHEN event_id % 73 = 21 THEN 'shortdense'
                     ELSE 'base' END AS cls
            FROM '{base}/events.parquet'
          )
        ) TO '{out}/events.parquet' (FORMAT PARQUET)
        """
    )
    # embeddings: inject zero vectors (norm-0 guard) and flat vectors
    con.execute(
        f"""
        COPY (
          SELECT vec_id,
                 CASE
                   WHEN vec_id % 29 = 7
                     THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))
                   WHEN vec_id % 29 = 8
                     THEN list_transform(embedding, x -> CAST(1.0 AS FLOAT))
                   WHEN vec_id % 29 = 9 THEN NULL
                   ELSE embedding END AS embedding,
                 label
          FROM '{base}/embeddings.parquet'
        ) TO '{out}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    # customer: hostile names + boundary balances
    con.execute(
        f"""
        COPY (
          SELECT c_custkey,
                 CASE WHEN c_custkey % 23 = 9
                      THEN 'Customer\x0b' || CAST(c_custkey AS VARCHAR)
                      ELSE c_name END AS c_name,
                 c_nationkey,
                 CASE WHEN c_custkey % 31 = 2 THEN -c_acctbal
                      WHEN c_custkey % 31 = 3 THEN 0.01
                      ELSE c_acctbal END AS c_acctbal,
                 c_mktsegment
          FROM '{base}/customer.parquet'
        ) TO '{out}/customer.parquet' (FORMAT PARQUET)
        """
    )
    for t in ("region", "nation", "supplier", "part", "orders", "lineitem"):
        con.execute(
            f"COPY (SELECT * FROM '{base}/{t}.parquet') TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/hostile_sf"
    build(base, out)
    print(f"hostile fixture written to {out}; running full gate...")
    import subprocess

    sys.exit(
        subprocess.call(
            [
                sys.executable,
                os.path.join(ROOT, "tools", "check_correctness.py"),
                out,
                *sys.argv[3:],
            ]
        )
    )


if __name__ == "__main__":
    main()
