"""Local stand-in for the driver's t2 correctness gate.

Runs every registry query on Spark and its DuckDB oracle on the same
parquet tables, then compares row count, column names, and order-
insensitive values (columns sorted by name, rows sorted, exact match).

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vector_database_watermarking_spark import TABLES
from vector_database_watermarking_spark.registry import QUERIES
from vector_database_watermarking_spark.session import get_spark


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle_check")
    con = duck_con(sf_dir)
    failures = []
    for name, q in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if q.oracle is None:
            print(f"SKIP {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            if len(sdf) == 0:
                print(f"  WARN {name}: zero rows")
            continue
        try:
            odf = con.execute(q.oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        s, o = canon(sdf), canon(odf)
        ok = True
        if list(s.columns) != list(o.columns):
            print(f"FAIL {name}: columns {list(s.columns)} vs {list(o.columns)}")
            ok = False
        elif len(s) != len(o):
            print(f"FAIL {name}: rows {len(s)} vs {len(o)}")
            ok = False
        else:
            for c in s.columns:
                a = s[c].to_numpy()
                b = o[c].to_numpy()
                try:
                    same = (pd.Series(a) == pd.Series(b)) | (pd.isna(a) & pd.isna(b))
                except Exception:  # noqa: BLE001
                    same = pd.Series(a.astype(str)) == pd.Series(b.astype(str))
                if not same.all():
                    bad = (~same).to_numpy().nonzero()[0][:5]
                    print(f"FAIL {name}: col {c} mismatches at rows {bad.tolist()}")
                    for i in bad[:3]:
                        print(f"   spark={a[i]!r} duck={b[i]!r}")
                    ok = False
                    break
        if ok:
            print(f"PASS {name} ({len(s)} rows, {time.time()-t0:.1f}s)")
        else:
            failures.append(name)
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print("\nall green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
