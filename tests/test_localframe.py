"""Focused tests for the round-12 optimization helpers: Arrow-backed local
frames (operators/localframe.py), the one-job multiset-equality probe, the
Arrow micro-batch staging writer, and the graph-operator convergence
changes (kcore early-exit)."""

from __future__ import annotations

import datetime
import os
from decimal import Decimal

from pyspark.sql import functions as F

from airflow_postgres_csv_spark.operators.localframe import (
    arrow_local_df,
    spread_small_input,
)
from airflow_postgres_csv_spark.queries._helpers import (
    multiset_equal,
    stage_single_parquet,
)


def test_arrow_local_df_matches_classic_schema_and_rows(spark):
    rows = [(1, "x", 2.5, Decimal("1.500000000")), (None, None, None, None)]
    ddl = "a int, s string, d double, m decimal(18,9)"
    new = arrow_local_df(spark, rows, ddl)
    old = spark.createDataFrame(rows, ddl)
    assert new.schema == old.schema
    key = lambda t: tuple((v is not None, v) for v in t)  # noqa: E731
    assert sorted(map(tuple, new.collect()), key=key) == sorted(
        map(tuple, old.collect()), key=key
    )


def test_arrow_local_df_binary_array_timestamp(spark):
    rows = [
        (b"\x00\x01", [1.5, 2.5], datetime.datetime(2024, 1, 2, 3, 4, 5)),
    ]
    ddl = "bin binary, arr array<double>, ts timestamp"
    df = arrow_local_df(spark, rows, ddl)
    assert df.schema == spark.createDataFrame(rows, ddl).schema
    got = df.collect()[0]
    assert bytes(got["bin"]) == b"\x00\x01"
    assert list(got["arr"]) == [1.5, 2.5]
    assert got["ts"] == datetime.datetime(2024, 1, 2, 3, 4, 5)


def test_arrow_local_df_empty(spark):
    df = arrow_local_df(spark, [], "a int, s string")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["a", "s"]


def test_multiset_equal_respects_duplicates_and_nulls(spark):
    a = arrow_local_df(spark, [(1, "x"), (1, "x"), (None, None)], "k int, v string")
    b_same = arrow_local_df(spark, [(None, None), (1, "x"), (1, "x")], "k int, v string")
    b_fewer = arrow_local_df(spark, [(1, "x"), (None, None)], "k int, v string")
    b_other = arrow_local_df(spark, [(1, "x"), (1, "y"), (None, None)], "k int, v string")
    assert multiset_equal(a, b_same)
    assert not multiset_equal(a, b_fewer)  # duplicate count differs
    assert not multiset_equal(a, b_other)
    # agrees with the two-job exceptAll definition
    assert (
        a.exceptAll(b_fewer).count() == 0 and b_fewer.exceptAll(a).count() == 0
    ) is False


def test_stage_single_parquet_roundtrip(spark, sf_dir, tmp_out):
    from airflow_postgres_csv_spark.catalog import load

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    sub = ev.where(F.col("event_id") % 7 == 0)
    dst = os.path.join(tmp_out, "000.parquet")
    stage_single_parquet(sub, dst, 1_000_000)
    assert int(os.path.getmtime(dst)) == 1_000_000
    back = spark.read.parquet(dst)
    assert back.schema == sub.schema
    assert multiset_equal(back, sub)


def test_spread_small_input_probes_the_jvm_plan(spark, monkeypatch):
    """A one-partition input is spread over ``defaultParallelism``
    partitions; one with at least that many comes back unchanged; the
    partition probe never builds a Python RDD."""
    from pyspark.sql import DataFrame

    def boom(self):
        raise AssertionError("a Python RDD was built")

    monkeypatch.setattr(DataFrame, "rdd", property(boom))
    par = spark.sparkContext.defaultParallelism
    one = spark.range(0, 50, 1, 1)
    spread = spread_small_input(one)
    assert spread._jdf.rdd().getNumPartitions() == par
    assert multiset_equal(spread, one)
    many = spark.range(0, 50, 1, par)
    assert spread_small_input(many) is many


def test_stage_single_parquet_large_frame_writes_distributed(
    spark, tmp_out, monkeypatch
):
    """A frame the optimizer sizes above the guard (800 MB of range
    input here, 20 rows after the filter) is never collected: Spark
    writes it as one file, which lands at ``dst`` with the pinned mtime
    and no staging directory left beside it."""
    from pyspark.sql import DataFrame

    def boom(self):
        raise AssertionError("collected through the driver")

    monkeypatch.setattr(DataFrame, "toArrow", boom)
    big = spark.range(100_000_000).where(F.col("id") % 5_000_000 == 7)
    dst = os.path.join(tmp_out, "000.parquet")
    stage_single_parquet(big, dst, 2_000_000)
    assert os.listdir(tmp_out) == ["000.parquet"]
    assert int(os.path.getmtime(dst)) == 2_000_000
    back = spark.read.parquet(dst)
    assert back.dtypes == big.dtypes
    assert sorted(r.id for r in back.collect()) == [
        i * 5_000_000 + 7 for i in range(20)
    ]


def test_kcore_early_exit_matches_full_rounds(spark):
    from airflow_postgres_csv_spark.operators.graph import kcore_nodes

    # triangle + pendant: peel at k=2 converges after ONE deleting round
    # (pendant edge 3-4 goes, triangle 0-1-2 survives); early-exit must
    # return the same rows as running many more rounds
    edges = arrow_local_df(
        spark,
        [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)],
        "u long, v long",
    )
    few = kcore_nodes(edges, k=2, rounds=2).orderBy("node").collect()
    many = kcore_nodes(edges, k=2, rounds=50).orderBy("node").collect()
    assert few == many
    assert [(r["node"], r["deg"]) for r in many] == [(0, 2), (1, 2), (2, 2)]


def test_kcore_empty_after_peel(spark):
    from airflow_postgres_csv_spark.operators.graph import kcore_nodes

    edges = arrow_local_df(spark, [(0, 1), (1, 2)], "u long, v long")
    assert kcore_nodes(edges, k=2, rounds=8).count() == 0
