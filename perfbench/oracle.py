"""Output checks against DuckDB on the same generated parquet.

Results are compared as order-insensitive multisets of normalized rows:
numbers become floats (compared exactly), decimals and timestamps become
canonical text, NaN becomes None. The checks run outside the timed calls.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import duckdb
import numpy as np
import pandas as pd
from airflow_postgres_csv_spark.catalog import TABLES

# A content fingerprint both engines compute identically on the orders
# schema: row count plus exact integer sums over every column.
FINGERPRINT_SQL = (
    "count(*), sum(o_orderkey), sum(o_custkey), "
    "sum(CAST(round(o_totalprice * 100) AS BIGINT)), "
    "sum(length(o_orderstatus) + 2 * length(o_orderpriority)), "
    "sum(CAST(o_orderdate AS DATE) - DATE '1970-01-01')"
)


def spark_fingerprint(df):
    """The Spark twin of ``FINGERPRINT_SQL``; returns a tuple of ints."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)),
        F.sum("o_orderkey"),
        F.sum("o_custkey"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
        F.sum(F.length("o_orderstatus") + 2 * F.length("o_orderpriority")),
        F.sum(F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))),
    ).collect()[0]
    return tuple(int(v or 0) for v in row)


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _norm(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, float, np.integer, np.floating, decimal.Decimal)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        return pd.Timestamp(v).strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def frame_digest(pdf: pd.DataFrame) -> tuple[int, str]:
    """(row count, order-insensitive digest) of a pandas frame, with its
    columns taken in name order."""
    rows = pdf[sorted(pdf.columns)].itertuples(index=False, name=None)
    norm = sorted(repr(tuple(_norm(v) for v in r)) for r in rows)
    return len(norm), hashlib.sha256("\n".join(norm).encode()).hexdigest()


def duck_digest(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[int, str]:
    return frame_digest(con.execute(sql).df())
