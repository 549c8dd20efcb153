"""Shared helpers for the query corpus.

The determinism strategy (exact-decimal aggregation, string-formatted
timestamps) lives here so every query module uses the same idioms and the
Spark side stays bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_postgres_csv_spark.catalog import load


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load(spark, sf_dir, name)


def dec(col: str | Column, scale: int = 2) -> Column:
    """Exact decimal view of a 2-decimal double column.

    Fixture doubles carry exactly 2 decimals (verified in FIXTURES), so this
    cast is lossless and makes downstream +,*,SUM exact (deterministic
    regardless of partitioning / summation order).
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


def dsum(col: str | Column, alias: str) -> Column:
    """SUM over the exact-decimal view, surfaced as double."""
    return F.sum(dec(col)).cast("double").alias(alias)


def ts_str(col: str | Column, fmt: str = "yyyy-MM-dd HH:mm:ss") -> Column:
    """Engine-neutral timestamp rendering (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, fmt)


# DuckDB-side equivalents (string snippets for oracle SQL)
SQL_DEC = "CAST({col} AS DECIMAL(18,{scale}))"


def sql_dsum(col: str, alias: str, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,{scale}))) AS DOUBLE) AS {alias}"


SQL_TS = "strftime({col}, '%Y-%m-%d %H:%M:%S')"


# --- timezone-independent timestamp surfaces -------------------------------
#
# The engine pins its own sessions to UTC, but the DRIVER runs queries in
# its own SparkSession which need not pin anything — so any query output
# derived from a TimestampType instant through a session-timezone-dependent
# function (cast to date, date_trunc, hour/minute/..., date_format,
# unix_timestamp(string), timestamp literals) must go through these helpers
# instead. Each is pure epoch/NTZ arithmetic: identical output under ANY
# session timezone, and identical to DuckDB's naive-as-UTC reading.


def utc_ntz(col: str | Column) -> Column:
    """TimestampType instant -> TIMESTAMP_NTZ carrying the UTC wall clock.

    ``timestampadd`` from the NTZ epoch is pure arithmetic; calendar/time
    field extractors (hour, quarter, dayofyear, ...) applied to an NTZ
    input are wall-clock extractors with no timezone in play.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_add("MICROSECOND", F.unix_micros(c),
                           F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"))


def utc_date(col: str | Column) -> Column:
    """TimestampType instant -> its UTC calendar date (DateType).

    Goes through :func:`utc_ntz` (``to_date`` of an NTZ is a pure
    wall-clock truncation) — no float division anywhere.
    """
    return F.to_date(utc_ntz(col))


def multiset_equal(a: DataFrame, b: DataFrame) -> bool:
    """Exact multiset equality of two same-schema DataFrames in ONE job.

    The classic ``a.exceptAll(b).count() == 0 and b.exceptAll(a).count()
    == 0`` runs two full aggregation jobs; signed per-row counts need one:
    tag +1/−1, group by all columns (NULL-safe, same as exceptAll), equal
    multisets ⇔ every signed sum is zero."""
    cols = a.columns
    tagged = a.select(*cols, F.lit(1).alias("__s")).unionByName(
        b.select(*cols, F.lit(-1).alias("__s"))
    )
    return (
        tagged.groupBy(*cols)
        .agg(F.sum("__s").alias("__d"))
        .where(F.col("__d") != 0)
        .limit(1)
        .count()
        == 0
    )


# Catalyst's size estimate above which ``stage_single_parquet`` stops
# collecting through the driver.
_STAGE_MAX_BYTES = 64 << 20


def stage_single_parquet(df: DataFrame, dst: str, mtime: int) -> None:
    """Stage a DataFrame as one parquet file at ``dst`` with a pinned
    mtime (file-stream sources order micro-batches by mtime).

    ``df.coalesce(1).write.parquet`` funnels the whole upstream through ONE
    task (and pays a write-job + commit-protocol round trip per staged
    file — measured 1-6 s each in the streaming harnesses); staged frames
    are usually micro-batch-sized, so collect them through Arrow
    (parallel upstream tasks, zero-copy driver assembly) and write the
    file driver-side with pyarrow. Same rows, same Spark schema on
    re-read (``toArrow`` uses PySpark's own type mapping).

    Size guard: when the optimizer's size estimate of ``df`` (no job
    runs) exceeds ``_STAGE_MAX_BYTES``, nothing is collected — the frame
    is written by Spark as one file (parallel upstream, one writer task)
    into a hidden staging directory beside ``dst`` and moved into place.
    """
    import glob
    import os
    import shutil

    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if est <= _STAGE_MAX_BYTES:
        import pyarrow.parquet as pq

        pq.write_table(df.toArrow(), dst)
    else:
        head, tail = os.path.split(dst)
        tmp = os.path.join(head, f".{tail}.staging")
        df.repartition(1).write.mode("overwrite").parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        os.replace(part, dst)
        shutil.rmtree(tmp)
    os.utime(dst, (mtime, mtime))
