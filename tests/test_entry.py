import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_registry_contract():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 35
    assert set(oracles) <= set(qs)
    # every oracle aliases computed columns (sanity: no bare aggregate names)
    for name, sql in oracles.items():
        assert "AS" in sql or "SELECT DISTINCT" in sql.upper() or "*" not in sql


def test_queries_run_at_smoke_sf(spark):
    # smoke a representative subset at sf0.001 (full set runs in the driver)
    for name in ["pricing_summary", "join_star_enrich", "dedup_keep_first", "tumbling_window"]:
        df = entrymod.queries()[name](spark, "/root/testdata/sf0.001")
        assert df.count() >= 0
