"""Merge-on-read tombstones: counter budgets and exactness.

A read applies every positional tombstone of a version as ONE broadcast
anti-join on (file, row_index) after the union of its schema groups, and
reads each delete file under a known schema (no inference job). MOR
deletes and merges evaluate their source once, write the small delete or
key file, and take counts and bounds from that file. These tests pin the
Spark jobs and py4j round trips of each step, and check that the reshaped
read returns exactly the rows (and row addresses) the tombstones leave.
"""

from __future__ import annotations

import os
from decimal import Decimal

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from airflow_postgres_csv_spark.operators.snapshots import (
    _load_manifest,
    _read_pinned,
    snapshot_alter,
    snapshot_commit,
    snapshot_compact,
    snapshot_delete_mor,
    snapshot_delete_positional,
    snapshot_merge,
    snapshot_read,
    snapshot_table_changes,
    snapshot_update_where,
    snapshot_versions,
)


def _three_commits(spark, root):
    for lo in (0, 3000, 6000):
        snapshot_commit(
            spark.range(lo, lo + 3000)
            .select(
                "id", (F.col("id") * 2).alias("v"), (F.col("id") % 7).alias("g")
            )
            .coalesce(2),
            root,
        )


# (name, exact Spark jobs, py4j round-trip ceiling): the ceilings are the
# measured counts plus about 20%
_BUDGET = [
    ("update_where", 3, 150),
    ("delete_mor", 3, 110),
    ("delete_positional", 4, 172),
    ("read_build", 0, 118),
    ("count", 4, 3),
    ("merge", 5, 165),
    ("compact", 4, 170),
]


def test_mor_steps_within_job_and_py4j_budget(spark, tmp_path, spark_jobs, py4j_calls):
    """Three commits of 3,000 rows (two files each); then a keyless
    UPDATE, a MOR delete, a positional delete, a read with one equality
    and two positional tombstones and its count, a 20-key merge and a
    compaction. Warm figures: the scenario runs twice and the second
    pass is measured."""
    got = {}
    for run in range(2):
        root = str(tmp_path / f"t{run}")
        _three_commits(spark, root)
        updates = spark.range(0, 2000, 100).select(
            "id", (F.col("id") + 1).alias("v"), (F.col("id") % 7).alias("g")
        )
        steps = [
            ("update_where", lambda: snapshot_update_where(
                spark, root, "id % 97 = 0", {"v": "v + 1"})),
            ("delete_mor", lambda: snapshot_delete_mor(
                spark, root, "id % 89 = 0", key_col="id")),
            ("delete_positional", lambda: snapshot_delete_positional(
                spark, root, "id % 83 = 0")),
            ("read_build", lambda: snapshot_read(spark, root)),
            ("count", lambda: got["read_build"][2].count()),
            ("merge", lambda: snapshot_merge(spark, root, updates, "id")),
            ("compact", lambda: snapshot_compact(spark, root)),
        ]
        for name, step in steps:
            with spark_jobs() as jobs, py4j_calls() as calls:
                out = step()
            got[name] = (jobs.jobs, calls.calls, out)
    assert got["count"][2] == sum(
        1 for i in range(9000) if i % 89 and i % 83
    )
    for name, max_jobs, max_calls in _BUDGET:
        jobs, calls, _ = got[name]
        assert jobs == max_jobs, (name, jobs)
        assert calls <= max_calls, (name, calls)


def _evolved_table(spark, root):
    """Two schema groups — ``(id int, k int, v long)`` and, after ALTER
    (widen id, rename k -> key, add note), ``(id long, key int, v long,
    note string)`` — two files each; one equality tombstone keyed on the
    renamed column and two positional tombstones, each covering files of
    both groups."""
    snapshot_commit(
        spark.range(0, 40)
        .select(
            F.col("id").cast("int").alias("id"),
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 2).alias("v"),
        )
        .coalesce(2),
        root,
    )
    snapshot_alter(
        root, widen={"id": "long"}, rename={"k": "key"},
        add={"note": "string"}, column_defaults={"note": "n/a"},
    )
    snapshot_commit(
        spark.range(40, 80)
        .select(
            "id",
            F.col("id").cast("int").alias("key"),
            (F.col("id") * 2).alias("v"),
            F.lit("x").alias("note"),
        )
        .coalesce(2),
        root,
    )
    snapshot_delete_mor(spark, root, "key % 10 = 3", key_col="key")
    snapshot_delete_positional(spark, root, "id % 7 = 0")
    snapshot_delete_positional(spark, root, "id % 11 = 5")


def _kept(i):
    return i % 10 != 3 and i % 7 != 0 and i % 11 != 5


def test_reshaped_read_exact_across_schema_groups(spark, tmp_path):
    root = str(tmp_path / "t")
    _evolved_table(spark, root)
    m = _load_manifest(root, snapshot_versions(root)[-1])
    assert len({t.get("kind", "equality") for t in m["tombstones"]}) == 2
    assert len(m["tombstones"]) == 3
    expect = sorted(
        (i, i, 2 * i, "n/a" if i < 40 else "x") for i in range(80) if _kept(i)
    )
    df = snapshot_read(spark, root)
    assert df.columns == ["id", "key", "v", "note"]
    assert sorted(tuple(r) for r in df.collect()) == expect

    pos = _read_pinned(spark, root, m, m["files"], with_position=True)
    assert pos.columns == ["id", "key", "v", "note", "__file", "__pos"]
    rows = pos.collect()
    assert sorted(tuple(r)[:4] for r in rows) == expect
    # every address names the row it came from
    ids = {
        rel: pq.read_table(os.path.join(root, rel), columns=["id"])
        .column("id").to_pylist()
        for rel in m["files"]
    }
    assert all(ids[r["__file"]][r["__pos"]] == r["id"] for r in rows)

    ch = snapshot_table_changes(spark, root)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["id"])
        for r in ch.select("_commit_version", "_change_type", "id").collect()
    )
    deleted_eq = [i for i in range(80) if i % 10 == 3]
    deleted_p1 = [i for i in range(80) if i % 10 != 3 and i % 7 == 0]
    deleted_p2 = [
        i for i in range(80) if i % 10 != 3 and i % 7 != 0 and i % 11 == 5
    ]
    assert got == sorted(
        [(1, "insert", i) for i in range(40)]
        + [(3, "insert", i) for i in range(40, 80)]
        + [(4, "delete", i) for i in deleted_eq]
        + [(5, "delete", i) for i in deleted_p1]
        + [(6, "delete", i) for i in deleted_p2]
    )


def _data_dirs(root):
    return sorted(os.listdir(os.path.join(root, "data")))


def test_no_match_writes_leave_no_orphan_dir(spark, tmp_path):
    root = str(tmp_path / "t")
    snapshot_commit(
        spark.range(0, 100).select("id", (F.col("id") * 2).alias("v")), root
    )
    before = _data_dirs(root)

    out = snapshot_update_where(spark, root, "id < 0", {"v": "v + 1"})
    assert out == {"updated_rows": 0, "version": 1, "committed": False}
    assert _data_dirs(root) == before

    m = snapshot_delete_mor(spark, root, "id < 0", key_col="id")
    assert "tombstones" not in m or not m["tombstones"]
    assert _data_dirs(root) == before

    m = snapshot_delete_positional(spark, root, "id < 0")
    assert "tombstones" not in m or not m["tombstones"]
    assert _data_dirs(root) == before

    empty = spark.range(0).select("id", (F.col("id") * 2).alias("v"))
    m = snapshot_merge(spark, root, empty, "id")
    assert m["mode"] == "merge" and "merge_info" not in m
    assert _data_dirs(root) == before
    assert snapshot_versions(root) == [1, 2, 3, 4]
    assert snapshot_read(spark, root).count() == 100


def test_merge_on_key_without_footer_range_stays_exact(spark, tmp_path):
    """A DECIMAL key has no footer min/max: every file is a merge
    candidate, and the merge is exact."""
    root = str(tmp_path / "t")
    for lo in (0, 50):
        snapshot_commit(
            spark.range(lo, lo + 50).select(
                (F.col("id") / 4).cast("decimal(10,2)").alias("k"),
                (F.col("id") * 2).alias("v"),
            ).coalesce(1),
            root,
        )
    updates = spark.createDataFrame(
        [(Decimal("1.25"), -1), (Decimal("20.00"), -2), (Decimal("99.50"), -3)],
        "k decimal(10,2), v long",
    )
    m = snapshot_merge(spark, root, updates, "k")
    assert len(m["merge_info"]["replaced_files"]) == 2
    rows = dict(
        (r["k"], r["v"]) for r in snapshot_read(spark, root).collect()
    )
    expect = {Decimal(i) / 4: 2 * i for i in range(100)}
    expect = {k.quantize(Decimal("0.01")): v for k, v in expect.items()}
    expect.update({Decimal("1.25"): -1, Decimal("20.00"): -2, Decimal("99.50"): -3})
    assert rows == expect


@pytest.mark.parametrize("with_keys", [True, False])
def test_merge_null_update_keys(spark, tmp_path, with_keys):
    """NULL update keys match no row: with some non-null keys the NULL-key
    rows are inserted; with only NULL keys the merge is a no-op commit."""
    root = str(tmp_path / "t")
    snapshot_commit(
        spark.range(0, 10).select("id", (F.col("id") * 2).alias("v")), root
    )
    rows = [(None, -1)] + ([(3, -3), (20, -20)] if with_keys else [])
    updates = spark.createDataFrame(rows, "id long, v long")
    snapshot_merge(spark, root, updates, "id")
    got = sorted(
        (tuple(r) for r in snapshot_read(spark, root).collect()),
        key=lambda r: (r[0] is None, r[0] or 0),
    )
    if with_keys:
        expect = [(i, -3 if i == 3 else 2 * i) for i in range(10)]
        expect += [(20, -20), (None, -1)]
    else:
        expect = [(i, 2 * i) for i in range(10)]
    assert got == expect
