"""Oracle-compare helper mirroring the driver's correctness gate:
row-count + column set + order-insensitive values vs DuckDB."""

from __future__ import annotations

import duckdb
import pandas as pd

from aurora_cdc_demo_spark.session import duck_memory_limit_gb
from aurora_cdc_demo_spark.tables import TABLES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET temp_directory='/tmp/duck_spill'")
    con.execute(f"SET memory_limit='{duck_memory_limit_gb()}GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = df.astype(str)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def assert_matches_oracle(spark, name: str, sf_dir: str) -> None:
    from aurora_cdc_demo_spark.registry import ORACLES, QUERIES

    sdf = QUERIES[name](spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)
    ddf = con.execute(ORACLES[name]).fetchdf()
    a, b = normalize(sdf), normalize(ddf)
    assert list(a.columns) == list(b.columns), f"{name}: column mismatch"
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    pd.testing.assert_frame_equal(a, b, check_dtype=False), name
