"""Local stand-in for the driver's DuckDB-oracle gate.

Runs every ``queries()[name]`` on Spark and its ``oracle_sql()[name]`` on
DuckDB at the given scale factor, compares row count, column names, and
order-insensitive values (sorted columns, sorted rows, exact after
normalization). Exit code 1 on any mismatch.

Usage: python tools/check_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as E
    from pyramidscheme_jl_spark.session import get_spark

    spark = get_spark(app="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

    qs = E.queries()
    oracles = E.oracle_sql(sf)
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf).toPandas()
        except Exception as ex:
            failures.append((name, f"spark error: {ex}"))
            print(f"[FAIL] {name}: spark error: {str(ex)[:300]}")
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(got)} rows")
            continue
        try:
            want = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            failures.append((name, f"duckdb error: {ex}"))
            print(f"[FAIL] {name}: duckdb error: {str(ex)[:300]}")
            continue
        if len(got) != len(want):
            failures.append((name, f"rowcount {len(got)} != {len(want)}"))
            print(f"[FAIL] {name}: rowcount {len(got)} vs {len(want)}")
            continue
        if sorted(got.columns) != sorted(want.columns):
            failures.append((name, f"columns {sorted(got.columns)} != {sorted(want.columns)}"))
            print(f"[FAIL] {name}: columns {sorted(got.columns)} vs {sorted(want.columns)}")
            continue
        g, w = norm(got), norm(want)
        bad = None
        for c in g.columns:
            gv, wv = g[c].to_numpy(), w[c].to_numpy()
            if gv.dtype.kind == "f" or wv.dtype.kind == "f":
                ok = np.allclose(
                    gv.astype(float), wv.astype(float), rtol=1e-12, atol=1e-12, equal_nan=True
                )
                exact = (gv.astype(float) == wv.astype(float)).all()
                if ok and not exact:
                    print(f"  [warn] {name}.{c}: allclose but not bit-exact")
                if not ok:
                    bad = c
                    break
            else:
                if not (gv == wv).all():
                    bad = c
                    break
        if bad:
            i = int(np.argmax(g[bad].to_numpy() != w[bad].to_numpy()))
            failures.append((name, f"value mismatch col={bad}"))
            print(f"[FAIL] {name}: col {bad} row {i}: spark={g[bad][i]!r} duck={w[bad][i]!r}")
        else:
            print(f"[ok]   {name}: {len(got)} rows, {len(g.columns)} cols")
    print(f"\n{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
