"""Arrow-backed local DataFrames — the cheap path for tiny driver-side
relations.

``spark.createDataFrame(list_of_tuples, schema)`` builds a *pickled-RDD*
relation: the rows are split into ``defaultParallelism`` slices, and every
scan of the frame pays one Python-worker round trip PER SLICE (~200 ms
each on this stack). Measured on a warm 32-core session for a 256-row
frame: ``.coalesce(1).count()`` 6.2 s, ``.coalesce(1).write.parquet`` 5.7 s
— pure fixed overhead, billed to every query that returns or joins a small
driver-built table (guide §5: the driver and its plumbing should do almost
no work).

``arrow_local_df`` builds the same frame through one Arrow record batch
instead: no Python workers, no pickled slices, exact Spark types (the
Arrow schema is derived from the *declared* Spark schema, so ``int`` stays
``int``, decimals keep scale, NULLs stay typed). Same 256-row frame:
``.coalesce(1).count()`` 0.29 s.

Semantics: identical rows, identical schema (asserted by construction —
``to_arrow_schema`` is PySpark's own StructType→Arrow mapping, and the
session already runs with ``spark.sql.execution.arrow.pyspark.enabled``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

__all__ = ["arrow_local_df", "spread_small_input"]


def spread_small_input(df: DataFrame) -> DataFrame:
    """Spread a small-but-kernel-heavy input across the session's
    parallelism (guide §2.5: input skew — "one huge unsplittable file...
    repartition immediately after the read").

    Parquet scans parallelize at ROW-GROUP granularity: a table that
    arrives as one file/one row group runs its entire map stage — explode,
    per-token md5, n-gram transforms — as ONE task no matter how many
    cores the session has (measured: the whole winnowing fingerprint pass
    was one 6.3 s task at sf0.1 on 32 cores). When the upstream partition
    count is below ``defaultParallelism``, round-robin the rows once;
    at real scale (input splits >= cores) this is a no-op, so the extra
    exchange is never paid where it wouldn't help. Apply AFTER projecting
    to the columns the kernel needs, so only those bytes shuffle (§2.3).
    The partition count is read from the JVM plan's RDD, so no Python RDD
    or pickling hop is built (``df.rdd`` would); for a scan that is
    planning only, and a plan with exchanges runs them, as before.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df._jdf.rdd().getNumPartitions() < par:
        return df.repartition(par)
    return df

_SCHEMA_CACHE: dict[str, StructType] = {}


def arrow_local_df(
    spark: SparkSession,
    rows: list,
    schema: str | StructType,
) -> DataFrame:
    """Local DataFrame from ``rows`` (list of tuples, column order matching
    ``schema``) via one Arrow batch. Drop-in for
    ``spark.createDataFrame(rows, schema)`` for flat schemas (primitive,
    decimal, binary, timestamp, array element types). Rows may also be
    plain scalars-in-tuples with None for NULL."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, StructType):
        st = schema
    else:
        st = _SCHEMA_CACHE.get(schema)
        if st is None:
            from pyspark.sql.types import _parse_datatype_string

            st = _parse_datatype_string(schema)
            _SCHEMA_CACHE[schema] = st
    pa_schema = to_arrow_schema(st)
    cols = list(zip(*rows)) if rows else [[] for _ in pa_schema]
    arrays = [
        pa.array(list(c), type=f.type) for c, f in zip(cols, pa_schema)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=pa_schema))
