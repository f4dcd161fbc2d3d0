"""Local replica of the driver's correctness gate.

Runs every REGISTRY query on Spark and its DuckDB oracle side-by-side,
compares row count, column names, and an order-insensitive value
rendering. Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from wellmeet_data_pipeline_spark.plans.queries import REGISTRY  # noqa: E402
from wellmeet_data_pipeline_spark.session import get_spark  # noqa: E402


def _render(df_pandas) -> list[tuple]:
    rows = []
    for tup in df_pandas.itertuples(index=False, name=None):
        rows.append(tuple(_norm_val(v) for v in tup))
    return sorted(rows)


def _dtype_class(dt) -> str | None:
    """'int' / 'float' for numeric dtypes, None otherwise (object, bool, ...).

    Only the int-vs-float confusion is driver-visible; object columns
    (strings, nullable mixes, decimals) are left to value rendering.
    """
    kind = getattr(dt, "kind", None)
    if kind in ("i", "u"):
        return "int"
    if kind == "f":
        return "float"
    return None


def _norm_val(v):
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return f"{v:.9g}"
    return str(v)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_pass = n_fail = n_rows_only = 0
    for name, spec in REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            spark_pd = sdf.toPandas()
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"ROWS-ONLY {name}: {len(spark_pd)} rows ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            duck_pd = con.execute(spec.oracle).fetchdf()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            n_fail += 1
            continue

        problems = []
        if len(spark_pd) != len(duck_pd):
            problems.append(f"rowcount spark={len(spark_pd)} duck={len(duck_pd)}")
        s_cols, d_cols = list(spark_pd.columns), list(duck_pd.columns)
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"columns spark={s_cols} duck={d_cols}")
        else:
            duck_pd = duck_pd[s_cols]
            # Dtype-strict pre-check: an integer-typed column on one engine
            # vs a float-typed column on the other (e.g. an uncast DuckDB
            # HUGEINT window sum coming back as float64) renders identically
            # ("0" vs "0.0" -> "%.9g" both "0") but hash-differs at the
            # driver.  Fail BEFORE value rendering so the local gate can
            # never mask that class again (r4/r5 pack_sequences regression).
            for c in s_cols:
                sk = _dtype_class(spark_pd[c].dtype)
                dk = _dtype_class(duck_pd[c].dtype)
                if sk and dk and sk != dk:
                    problems.append(
                        f"dtype mismatch col={c} spark={spark_pd[c].dtype} "
                        f"duck={duck_pd[c].dtype}"
                    )
            s_rows, d_rows = _render(spark_pd), _render(duck_pd)
            if s_rows != d_rows:
                diff = [
                    (a, b) for a, b in zip(s_rows, d_rows) if a != b
                ][:3]
                problems.append(f"values differ; first diffs {diff}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(spark_pd)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
