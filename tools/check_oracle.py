"""Local replica of the driver's correctness gate.

Runs each ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, sorted
column names, and order-insensitive per-column values.

``--distributed`` sets every ``operators.local`` cap to 0, so each
operator with a driver-local finish replays its distributed path, and
small shapefiles take the Python scan instead of the driver-local read
(``SCAN_BYTES``).

Usage: python tools/check_oracle.py [query ...] [--sf-dir DIR] [--distributed]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    from go_shapefile_spark.queries import TABLES
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    problems = []
    if len(got) != len(exp):
        problems.append(f"row count {len(got)} != oracle {len(exp)}")
    if sorted(got.columns) != sorted(exp.columns):
        problems.append(f"columns {sorted(got.columns)} != {sorted(exp.columns)}")
        return problems
    g, e = normalize(got), normalize(exp)
    if len(g) == len(e):
        for c in g.columns:
            gv, ev = g[c], e[c]
            if gv.dtype.kind == "f" or ev.dtype.kind == "f":
                bad = [
                    i for i, (a, b) in enumerate(zip(gv, ev))
                    if not (a == b or (isinstance(a, float) and isinstance(b, float)
                                       and math.isnan(a) and math.isnan(b)))
                ]
            else:
                neq = gv.astype(str) != ev.astype(str)
                bad = list(neq[neq].index)
            if bad:
                i = bad[0]
                problems.append(
                    f"column {c}: {len(bad)} mismatches, first at row {i}: "
                    f"{gv.iloc[i]!r} != {ev.iloc[i]!r}")
    return problems


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.01"
    for a in sys.argv[1:]:
        if a.startswith("--sf-dir="):
            sf_dir = a.split("=", 1)[1]

    import __spark_entry__ as entry
    from go_shapefile_spark.operators import local
    from go_shapefile_spark.session import get_spark

    if "--distributed" in sys.argv[1:]:
        for cap in local.CAPS:
            setattr(local, cap, 0)

    queries = entry.queries()
    oracles = entry.oracle_sql()
    names = args or list(queries)

    spark = get_spark(app_name="check_oracle", cores=8, shuffle_partitions=16)
    con = duck_connection(sf_dir)
    failures = 0
    for name in names:
        if name not in queries:
            print(f"[SKIP] {name}: no such query")
            continue
        try:
            got = queries[name](spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"[FAIL] {name}: spark error: {exc}")
            failures += 1
            continue
        if name not in oracles:
            print(f"[ROWS] {name}: {len(got)} rows (no oracle)")
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as exc:
            print(f"[FAIL] {name}: duckdb error: {exc}")
            failures += 1
            continue
        problems = compare(name, got, exp)
        if problems:
            failures += 1
            print(f"[FAIL] {name} ({len(got)} vs {len(exp)} rows)")
            for p in problems:
                print(f"       - {p}")
        else:
            print(f"[OK]   {name}: {len(got)} rows match")
    print(f"{len(names) - failures}/{len(names)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
