"""Local mirror of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at a given sf dir, compare row count,
column names, and order-insensitive values.

Usage: python tools/check_contract.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def dtype_kind(dtype) -> str:
    """Coarse dtype class the driver's typed value-hash distinguishes.
    int64 3549 vs float64 3549.0 MUST be a mismatch (r1: ta_lang_agg /
    pivot_counts passed locally but failed the driver on exactly this)."""
    s = str(dtype)
    if "bool" in s:
        return "bool"
    if "int" in s and "interval" not in s:
        return "int"
    if "float" in s or "double" in s or "decimal" in s.lower():
        return "float"
    if "datetime" in s or "timestamp" in s.lower():
        return "datetime"
    return "object"


def normalize(df, float_dp=6):
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda x: str(x) if not isinstance(x, float) else f"{x:.{float_dp}g}"
            )
        elif "float" in str(df[c].dtype):
            df[c] = df[c].map(lambda x: "nan" if x is None or (isinstance(x, float) and math.isnan(x)) else f"{round(x, float_dp):.{float_dp}g}")
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def main():
    import duckdb

    import __spark_entry__ as E
    from sparkx.session import build_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    spark = build_session("contract-check", master="local[8]", shuffle_partitions=8)
    qs, os_ = E.queries(), E.oracle_sql()
    failures = []
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            failures.append((name, f"SPARK ERROR: {ex}"))
            print(f"✗ {name}: SPARK ERROR {str(ex)[:200]}")
            continue
        if name not in os_:
            print(f"~ {name}: no oracle (rows-only) — {len(got)} rows")
            continue
        try:
            want = con.execute(os_[name]).df()
        except Exception as ex:
            failures.append((name, f"DUCKDB ERROR: {ex}"))
            print(f"✗ {name}: DUCKDB ERROR {str(ex)[:200]}")
            continue
        if sorted(got.columns) != sorted(want.columns):
            failures.append((name, f"columns {sorted(got.columns)} != {sorted(want.columns)}"))
            print(f"✗ {name}: column mismatch {sorted(got.columns)} vs {sorted(want.columns)}")
            continue
        if len(got) != len(want):
            failures.append((name, f"rows {len(got)} != {len(want)}"))
            print(f"✗ {name}: row count {len(got)} != {len(want)}")
            continue
        bad_kinds = [
            c for c in got.columns
            if dtype_kind(got[c].dtype) != dtype_kind(want[c].dtype)
        ]
        if bad_kinds:
            detail = {c: (str(got[c].dtype), str(want[c].dtype)) for c in bad_kinds}
            failures.append((name, f"dtype kind mismatch {detail}"))
            print(f"✗ {name}: dtype kind mismatch {detail}")
            continue
        g, w = normalize(got), normalize(want)
        if not g.equals(w):
            diff_cols = [c for c in g.columns if not g[c].equals(w[c])]
            idx = next(i for c in diff_cols[:1] for i in [(g[c] != w[c]).idxmax()])
            failures.append((name, f"values differ in {diff_cols}"))
            print(f"✗ {name}: value mismatch cols={diff_cols} first row {idx}")
            for c in diff_cols[:3]:
                print(f"    {c}: spark={g[c][idx]!r} duck={w[c][idx]!r}")
        else:
            print(f"✓ {name}: {len(got)} rows")
    spark.stop()
    subset = f" (subset of {len(qs)} registered)" if only else ""
    print(f"\n{checked - len(failures)}/{checked} OK{subset}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
