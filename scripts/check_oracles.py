"""Local replica of the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB at
the given sf dir, compares row count + column names + order-insensitive
values. Usage:

    python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from getl_spark.queries import all_oracles, all_queries  # noqa: E402
from getl_spark.session import get_spark  # noqa: E402

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-faithful canonicalization: sort columns by name, stringify
    values EXACTLY as they arrive (no rounding/smoothing — the driver
    hashes raw stringified values, so Decimal('1.40') != 1.4 here too),
    then sort rows. Round-1 lesson: a lenient canon() hid 8 driver
    hash failures; this one must reproduce the driver verdict."""
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if v is None or v != v:
            return "<null>"
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return str(list(v))
        return str(v)

    out = df.map(norm)
    return out.sort_values(list(out.columns), kind="mergesort").reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check", cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, os_ = all_queries(), all_oracles()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            failed.append(name)
            continue
        if name not in os_:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows, cols={list(sdf.columns)}")
            continue
        try:
            odf = con.sql(os_[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {str(e)[:300]}")
            failed.append(name)
            continue
        cs, co = canon(sdf), canon(odf)
        if list(cs.columns) != list(co.columns):
            print(f"FAIL {name}: columns spark={list(cs.columns)} duck={list(co.columns)}")
            failed.append(name)
        elif len(cs) != len(co):
            print(f"FAIL {name}: rows spark={len(cs)} duck={len(co)}")
            failed.append(name)
        elif not cs.equals(co):
            neq = (cs != co).any(axis=1)
            print(f"FAIL {name}: {int(neq.sum())}/{len(cs)} rows differ; first:")
            print(" spark:", cs[neq].head(2).to_dict("records"))
            print(" duck: ", co[neq].head(2).to_dict("records"))
            failed.append(name)
        else:
            print(f"OK   {name}: {len(cs)} rows")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
