"""Plan-shape pins for the round-6 snapshot read paths: merge-on-read
tombstones must apply as BROADCAST anti-joins (never a shuffle of the
fact side), and the residual range filter of a pruned snapshot scan must
still reach the parquet scan as a pushed filter on the surviving files.
Either property silently regressing would multiply the 100 TB read cost:
a sort-merge anti-join shuffles the whole table per tombstone, and an
unpushed residual filter decodes every surviving row group.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_postgres_csv_spark.operators.snapshots import (
    snapshot_commit,
    snapshot_delete_mor,
    snapshot_delete_positional,
    snapshot_read,
    snapshot_scan,
)
from airflow_postgres_csv_spark.plans import introspect as I


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id"), (F.col("id") * 2).alias("v"))


def test_mor_tombstones_apply_as_broadcast_anti_join(spark, tmp_path):
    root = str(tmp_path / "snap")
    snapshot_commit(_df(spark, 0, 5000).coalesce(2), root)
    snapshot_delete_mor(spark, root, "id % 100 = 0", key_col="id")
    out = snapshot_read(spark, root)
    plan = I.physical_plan(out)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the fact side is never shuffled: zero shuffle exchanges in the read
    assert I.num_shuffles(out) == 0, plan
    assert out.count() == 5000 - 50


def test_positional_tombstones_apply_as_one_anti_join(spark, tmp_path):
    """Two positional tombstones (on files of two commits) plus one
    equality tombstone: the positional delete files are read as ONE
    (file, pos) relation — exactly one broadcast anti-join on
    (__file, __pos) — beside the equality anti-join, with no shuffle."""
    import re

    root = str(tmp_path / "snap")
    snapshot_commit(_df(spark, 0, 5000).coalesce(2), root)
    snapshot_commit(_df(spark, 5000, 6000).coalesce(1), root)
    snapshot_delete_positional(spark, root, "id % 100 = 0")
    snapshot_delete_positional(spark, root, "id % 100 = 1")
    snapshot_delete_mor(spark, root, "id % 100 = 2", key_col="id")
    out = snapshot_read(spark, root)
    plan = I.physical_plan(out)
    pos_joins = re.findall(
        r"BroadcastHashJoin \[__file#\d+, __pos#\d+L\], "
        r"\[file#\d+, pos#\d+L\], LeftAnti",
        plan,
    )
    assert len(pos_joins) == 1, plan
    assert plan.count("LeftAnti") == 2, plan
    assert I.num_shuffles(out) == 0, plan
    assert out.count() == 6000 - 3 * 60


def test_pruned_scan_residual_filter_reaches_parquet(spark, tmp_path):
    root = str(tmp_path / "snap")
    for lo in (0, 1000, 2000, 3000):
        snapshot_commit(_df(spark, lo, lo + 1000).coalesce(1), root)
    out = snapshot_scan(spark, root, "id", 1200, 1800)
    pushed = ",".join(I.pushed_filters(out))
    assert "GreaterThanOrEqual(id,1200)" in pushed, pushed
    assert "LessThanOrEqual(id,1800)" in pushed, pushed
    assert I.num_shuffles(out) == 0
    assert out.count() == 601


def test_schema_aligned_read_keeps_scan_pruned_and_shuffle_free(spark, tmp_path):
    """Schema-evolution alignment is a per-group projection over the scan:
    no shuffle, and column pruning still reaches the files (a projection
    of one column reads one column from each group's scan)."""
    root = str(tmp_path / "snap")
    snapshot_commit(_df(spark, 0, 100).coalesce(1), root)
    snapshot_commit(
        _df(spark, 100, 200).withColumn("w", F.col("id") * 3).coalesce(1),
        root,
        allow_schema_change=True,
    )
    out = snapshot_read(spark, root).select("id")
    assert I.num_shuffles(out) == 0
    schemas = I.read_schema(out)
    assert schemas and all(c == "id" for c in schemas), schemas


def test_table_changes_merge_version_is_broadcast_and_shuffle_free(spark, tmp_path):
    """The batch change feed over a COW merge version: pre/post-image key
    restriction must be a BROADCAST semi-join per side (the key files are
    O(merged keys)), with zero shuffle exchanges — a sort-merge here
    would shuffle the rewritten files per refresh at 100 TB."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_merge,
        snapshot_table_changes,
    )

    root = str(tmp_path / "snap")
    snapshot_commit(_df(spark, 0, 5000).coalesce(2), root)
    updates = spark.createDataFrame(
        [(i, i * 7) for i in range(0, 5000, 100)], "id long, v long"
    )
    snapshot_merge(spark, root, updates, "id")
    out = snapshot_table_changes(spark, root, from_version=1)
    plan = I.physical_plan(out)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert I.num_shuffles(out) == 0, plan
    # pre-image (old values) + post-image (new values) for the 50 keys
    assert out.count() == 100


def test_incremental_agg_refresh_shuffles_only_for_the_aggregate(spark, tmp_path):
    """An IVM refresh's plan: the signed delta is one hash aggregate over
    the change feed (exactly one shuffle for the groupBy — map-side
    partials first), never a join-driven shuffle of the changes."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_table_changes,
    )
    from pyspark.sql import functions as F2

    root = str(tmp_path / "snap")
    snapshot_commit(
        _df(spark, 0, 5000).withColumn("g", F.col("id") % 7).coalesce(2), root
    )
    ch = snapshot_table_changes(spark, root)
    sign = F2.when(F2.col("_change_type") == "insert", F2.lit(1)).otherwise(
        F2.lit(-1)
    )
    delta = ch.groupBy("g").agg(
        F2.sum(sign).alias("dn"), F2.sum(sign * F2.col("v")).alias("dv")
    )
    plan = I.physical_plan(delta)
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    assert I.num_shuffles(delta) == 1, plan
    assert delta.count() == 7
