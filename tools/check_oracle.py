"""Local replica of the driver's correctness gate: run every
``queries()`` entry and its DuckDB oracle side-by-side and compare
row-count, column set, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

from aurora_cdc_demo_spark.session import get_spark  # noqa: E402
from aurora_cdc_demo_spark.tables import TABLES  # noqa: E402


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET temp_directory='/tmp/duck_spill'")
    # Host-aware buffer-manager limit (r10, as in tests/helpers.py):
    # a static cap above what the OS can actually give with a Spark
    # JVM resident turns the heavy inlined oracles into OS-level
    # bad_allocs before DuckDB's own spill machinery ever engages.
    # Half of MemAvailable at connect time (floor 4GB, ceiling 40GB)
    # makes DuckDB spill deterministically whatever else is running.
    from aurora_cdc_demo_spark.session import duck_memory_limit_gb

    gb = max(4, min(40, 2 * duck_memory_limit_gb()))
    con.execute(f"SET memory_limit='{gb}GB'")
    import os

    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # Spark-written tables are DIRECTORIES of part files (the
        # scale corpora); the driver's testdata are single files
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify for order-insensitive exact compare (mirrors the
    # driver's value-hash: exact, not approximate)
    out = df.astype(str)
    out = out.sort_values(by=list(out.columns)).reset_index(drop=True)
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(sys.argv[2:])

    spark = get_spark("oracle-check")
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only) rows={len(sdf)}")
            continue
        try:
            # fresh connection per oracle: a long-lived connection's
            # buffer pool accumulates state across hundreds of
            # queries and the heavy inlined oracles start dying with
            # 'Failed to allocate block' bad_allocs that standalone
            # runs never show (observed at sf0.1) — per-query
            # connections make the sweep order-independent for the
            # cost of re-reading parquet footers
            con = duck_connection(sf_dir)
            ddf = con.execute(oracles[name]).fetchdf()
            con.close()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        a, b = normalize(sdf), normalize(ddf)
        if list(a.columns) != list(b.columns):
            failures.append(name)
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
        elif len(a) != len(b):
            failures.append(name)
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
        elif not a.equals(b):
            failures.append(name)
            diff = (a != b).any(axis=1)
            print(f"FAIL {name}: {int(diff.sum())}/{len(a)} rows differ")
            mism = a[diff].head(3)
            print("  spark:", mism.to_dict("records"))
            print("  duck :", b[diff].head(3).to_dict("records"))
        else:
            print(f"OK   {name} rows={len(a)}")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nall OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
