"""Batch snapshot_table data source (sources/snapshot_batch.py):
pushdown-driven file pruning, tombstone masks, schema evolution, time
travel — each checked against the operator read path it must agree with."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    In,
    LessThan,
    StringStartsWith,
)

from airflow_postgres_csv_spark.operators.snapshots import (
    _load_manifest,
    snapshot_commit,
    snapshot_delete_mor,
    snapshot_delete_positional,
    snapshot_read,
    snapshot_tag,
    snapshot_versions,
)
from airflow_postgres_csv_spark.sources.snapshot_batch import (
    SnapshotBatchReader,
    register_snapshot_table,
)


@pytest.fixture(autouse=True)
def _pushdown(spark):
    old = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register_snapshot_table(spark)
    yield
    spark.conf.set("spark.sql.python.filterPushdown.enabled", old)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id"), (F.col("id") * 2).alias("v"))


def _rows(df):
    return sorted((r.id, r.v) for r in df.collect())


def test_reads_match_operator_path(spark, tmp_path):
    """Plain load() equals snapshot_read across appends + a MOR delete."""
    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 50), root)
    snapshot_commit(_df(spark, 50, 100), root)
    snapshot_delete_mor(spark, root, condition="id % 9 = 4", key_col="id")
    got = spark.read.format("snapshot_table").load(root)
    want = snapshot_read(spark, root)
    assert _rows(got) == _rows(want)
    assert got.count() == 100 - len([i for i in range(100) if i % 9 == 4])


def test_positional_deletes_masked(spark, tmp_path):
    """(file, row) delete vectors are applied in the Arrow read path."""
    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 30).coalesce(1), root)
    snapshot_delete_positional(spark, root, condition="id IN (3, 17)")
    got = spark.read.format("snapshot_table").load(root)
    assert _rows(got) == _rows(snapshot_read(spark, root))
    assert got.count() == 28


def test_schema_evolution_default_fill(spark, tmp_path):
    """Files written before a column existed read with the column default
    under the version's pinned schema — same as snapshots._read_pinned."""
    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 5), root)
    snapshot_commit(
        _df(spark, 5, 8).withColumn("tag", F.lit("new")),
        root,
        allow_schema_change=True,
        column_defaults={"tag": "legacy"},
    )
    got = {r.id: r.tag for r in
           spark.read.format("snapshot_table").load(root).collect()}
    assert got[0] == "legacy" and got[7] == "new"


def test_time_travel_by_version_and_tag(spark, tmp_path):
    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 10), root)
    snapshot_tag(root, "train-v1")
    snapshot_commit(_df(spark, 10, 20), root)
    assert (
        spark.read.format("snapshot_table").option("version", 1).load(root).count()
        == 10
    )
    assert (
        spark.read.format("snapshot_table")
        .option("version", "train-v1")
        .load(root)
        .count()
        == 10
    )
    assert spark.read.format("snapshot_table").load(root).count() == 20


def test_pushed_range_prunes_files_and_result_is_exact(spark, tmp_path):
    """A range predicate prunes range-clustered files at planning time;
    the SQL result still equals the full filter (partial pushdown: every
    filter re-applies on survivors)."""
    root = str(tmp_path / "t")
    for lo in (0, 100, 200, 300):
        snapshot_commit(
            _df(spark, lo, lo + 100).repartition(2),
            root,
            partition_by=["id"],
        )
    r = SnapshotBatchReader(None, {"path": root})
    n_all = len(r.planned_files())
    leftover = list(r.pushFilters([GreaterThanOrEqual(("id",), 350)]))
    assert len(leftover) == 1  # file-granular pruning: Spark re-evaluates
    assert 0 < len(r.planned_files()) < n_all
    got = (
        spark.read.format("snapshot_table")
        .load(root)
        .where(F.col("id") >= 350)
    )
    assert got.count() == 50 and got.agg(F.min("id")).first()[0] == 350


def test_pushed_equality_uses_bloom(spark, tmp_path):
    """EqualTo on a bloom-indexed column consults per-file bitsets, not
    just zone maps: with one key per commit range, at most a couple of
    files survive a point probe."""
    root = str(tmp_path / "t")
    for lo in (0, 100, 200, 300):
        snapshot_commit(
            _df(spark, lo, lo + 100).coalesce(1), root, bloom_cols=["id"]
        )
    r = SnapshotBatchReader(None, {"path": root})
    assert len(r.planned_files()) == 4
    list(r.pushFilters([EqualTo(("id",), 250)]))
    assert len(r.planned_files()) <= 2
    got = spark.read.format("snapshot_table").load(root).where(F.col("id") == 250)
    assert [tuple(x) for x in got.collect()] == [(250, 500)]


def test_unsupported_filters_are_safe(spark, tmp_path):
    """A filter shape the source can't plan with (string prefix) leaves
    the file set alone; a supported IN over strings prunes via the string
    zone maps but never loses rows."""
    root = str(tmp_path / "t")
    snapshot_commit(
        _df(spark, 0, 20).withColumn("s", F.concat(F.lit("k"), F.col("id"))),
        root,
    )
    r = SnapshotBatchReader(None, {"path": root})
    n_all = len(r.planned_files())
    leftover = list(r.pushFilters([StringStartsWith(("s",), "k1")]))
    assert len(leftover) == 1
    assert len(r.planned_files()) == n_all  # prefix match: no range to plan
    got = (
        spark.read.format("snapshot_table")
        .load(root)
        .where(F.col("s").startswith("k1"))
    )
    assert got.count() == 11  # k1, k10..k19
    got_in = (
        spark.read.format("snapshot_table")
        .load(root)
        .where(F.col("s").isin("k1", "k2"))
    )
    assert sorted(r.s for r in got_in.collect()) == ["k1", "k2"]


def test_conjunctive_ranges_intersect(spark, tmp_path):
    """lo <= id < hi accumulates into ONE per-column range for planning."""
    root = str(tmp_path / "t")
    for lo in (0, 100, 200, 300):
        snapshot_commit(
            _df(spark, lo, lo + 100).coalesce(1), root, partition_by=["id"]
        )
    r = SnapshotBatchReader(None, {"path": root})
    list(r.pushFilters([GreaterThanOrEqual(("id",), 120), LessThan(("id",), 180)]))
    assert r._ranges["id"] == (120, 180)
    assert len(r.planned_files()) == 1


# -- writer ----------------------------------------------------------------


def test_ds_write_append_roundtrip(spark, tmp_path):
    """Executor-staged Arrow write + manifest commit: rows round-trip,
    versions accrue, and the staged footers feed commit-level zone maps."""
    root = str(tmp_path / "t")
    _df(spark, 0, 60).repartition(3).write.format("snapshot_table").mode(
        "append"
    ).save(root)
    _df(spark, 60, 80).write.format("snapshot_table").mode("append").save(root)
    assert snapshot_versions(root) == [1, 2]
    got = spark.read.format("snapshot_table").load(root)
    assert _rows(got) == [(i, i * 2) for i in range(80)]
    m = _load_manifest(root, 2)
    assert m["commit_ranges"][m["commit_id"]]["id"] == [60, 79]


def test_ds_write_overwrite_keeps_history(spark, tmp_path):
    root = str(tmp_path / "t")
    _df(spark, 0, 50).write.format("snapshot_table").mode("append").save(root)
    _df(spark, 0, 5).write.format("snapshot_table").mode("overwrite").save(root)
    assert spark.read.format("snapshot_table").load(root).count() == 5
    assert (
        spark.read.format("snapshot_table").option("version", 1).load(root).count()
        == 50
    )


def test_ds_write_schema_drift_rejected_and_aborted(spark, tmp_path):
    """An append with a different schema aborts before any manifest is
    linked; the staging dir is removed (no orphan for expire to chase)."""
    import os

    root = str(tmp_path / "t")
    _df(spark, 0, 10).write.format("snapshot_table").mode("append").save(root)
    with pytest.raises(Exception, match="[Ss]chema drift|PYTHON_DATA_SOURCE"):
        spark.range(3).write.format("snapshot_table").mode("append").save(root)
    assert snapshot_versions(root) == [1]
    commits = set(os.listdir(os.path.join(root, "data")))
    assert commits == {_load_manifest(root, 1)["commit_id"]}


def test_ds_write_without_blooms_is_probe_safe(spark, tmp_path):
    """A DS-written file has no Bloom bitsets; point probes must KEEP it
    (absent bitset = might match), so keys in it are still found."""
    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 50).coalesce(1), root, bloom_cols=["id"])
    _df(spark, 50, 60).write.format("snapshot_table").mode("append").save(root)
    r = SnapshotBatchReader(None, {"path": root})
    list(r.pushFilters([EqualTo(("id",), 55)]))
    assert any("data/" in f for f in r.planned_files())
    got = spark.read.format("snapshot_table").load(root).where(F.col("id") == 55)
    assert [tuple(x) for x in got.collect()] == [(55, 110)]


def test_staged_commit_threaded_race_rebases(spark, tmp_path):
    """snapshot_commit_staged under concurrent writers: every staged
    commit lands (append rebase reuses the staged files — nothing is
    rewritten), no rows are lost, and the version chain is contiguous."""
    import os
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StructField, StructType

    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_commit_staged,
    )

    root = str(tmp_path / "t")
    schema_json = StructType(
        [StructField("id", LongType(), True), StructField("v", LongType(), True)]
    ).json()
    errors: list[Exception] = []

    def writer(w: int) -> None:
        try:
            cid = f"stage{w:02d}00000000"
            d = os.path.join(root, "data", cid)
            os.makedirs(d)
            ids = list(range(w * 10, w * 10 + 10))
            pq.write_table(
                pa.table({"id": ids, "v": [i * 2 for i in ids]}),
                os.path.join(d, "part-0.parquet"),
            )
            snapshot_commit_staged(
                root,
                cid,
                [os.path.join("data", cid, "part-0.parquet")],
                schema_json,
                retries=10,
            )
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert snapshot_versions(root) == [1, 2, 3, 4, 5, 6]
    got = spark.read.format("snapshot_table").load(root)
    assert _rows(got) == [(i, i * 2) for i in range(60)]


def test_fully_pruned_scan_returns_empty(spark, tmp_path):
    """When planning prunes EVERY file the engine still schedules one task
    with a None partition — the scan must yield zero rows, not crash."""
    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 100).coalesce(1), root, partition_by=["id"])
    got = spark.read.format("snapshot_table").load(root).where(F.col("id") > 10_000)
    assert got.count() == 0


def test_catalog_option_reads_pinned_consistent_view(spark, tmp_path):
    """option('catalog')/option('table') resolves through the catalog pin:
    the source sees the transaction's version, not the table head, and
    option('catalogVersion') time-travels the CATALOG — including name
    resolution across a rename."""
    from airflow_postgres_csv_spark.operators.catalog_txn import (
        catalog_ddl,
        catalog_txn,
    )

    cat = str(tmp_path / "cat")
    ra = str(tmp_path / "a")
    catalog_txn(cat, [{"name": "t.a", "root": ra, "df": _df(spark, 0, 10)}])
    catalog_txn(
        cat, [{"name": "t.a", "root": ra, "df": _df(spark, 10, 30)}],
        expect_pinned=True,
    )
    # an out-of-band append moves the table HEAD past the catalog pin
    snapshot_commit(_df(spark, 30, 40), ra)

    def src(**opts):
        r = spark.read.format("snapshot_table")
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    # head read (direct) sees 40 rows; catalog read sees the pinned 30
    assert src(path=ra).count() == 40
    assert src(catalog=cat, table="t.a").count() == 30
    assert _rows(src(catalog=cat, table="t.a", catalogVersion=1)) == _rows(
        _df(spark, 0, 10)
    )
    # rename: old catalog versions resolve the OLD name, head the new one
    catalog_ddl(cat, [{"op": "rename", "name": "t.a", "to": "t.b"}])
    assert src(catalog=cat, table="t.b").count() == 30
    assert src(catalog=cat, table="t.a", catalogVersion=2).count() == 30
    with pytest.raises(Exception, match="not in catalog"):
        src(catalog=cat, table="t.a").count()
    with pytest.raises(Exception, match="requires option"):
        src(catalog=cat).count()
    # pushdown still prunes through the catalog path
    assert src(catalog=cat, table="t.b").where(F.col("id") < 5).count() == 5


def test_sql_view_pushdown_prunes_files(spark, tmp_path):
    """VERDICT r8 item 4 + r9 item 2: snapshot tables named in raw
    spark.sql text. With the DEFAULT registration the statement hook
    re-registers a fresh relation per statement, so the SQL query's own
    WHERE conjuncts reach pushFilters and prune the range-clustered
    commits — the selective statement PLANS strictly fewer input
    partitions than the full scan (``.rdd.getNumPartitions()`` forces
    real DSv2 planning), at most one commit's worth of files survives
    (commit-level pruning, not just file luck), and the result is
    exact. No manual re-registration between statements."""
    from airflow_postgres_csv_spark.sources.snapshot_batch import (
        snapshot_sql_register,
    )

    root = str(tmp_path / "t")
    for lo in (0, 100, 200, 300):
        snapshot_commit(
            _df(spark, lo, lo + 100).repartition(2), root, partition_by=["id"]
        )
    snapshot_sql_register(spark, "sv_pushdown", root)
    n_full = spark.sql("SELECT * FROM sv_pushdown").rdd.getNumPartitions()
    got = spark.sql(
        "SELECT COUNT(*) AS n, MIN(id) AS lo FROM sv_pushdown WHERE id >= 350"
    ).first()
    assert (got.n, got.lo) == (50, 350)
    n_sel = spark.sql(
        "SELECT * FROM sv_pushdown WHERE id >= 350"
    ).rdd.getNumPartitions()
    assert 0 < n_sel < n_full, (n_sel, n_full)
    # ≤K of N commits: id >= 350 survives only the last of the 4
    # disjoint-range commits, so at most a quarter of the files plan
    assert n_sel <= n_full // 4, (n_sel, n_full)


def test_sql_view_default_is_reuse_safe(spark, tmp_path):
    """The DEFAULT registration must stay exact under ARBITRARY statement
    sequences over one long-lived view — Spark's per-relation Python
    scan cache (PythonDataSourceV2.readInfo) is not keyed on pushed
    filters, so a naive pruning view would serve a filterless statement
    the previous statement's pruned partitions. The statement hook
    re-registers a fresh relation per statement (each statement owns
    its cache) and falls back to an unpruned relation when one
    statement scans the same table instance twice with divergent
    filters. This sequence (full, selective, full, selective, full,
    then self-joins / optimizer-duplicated CTE / scalar subquery — the
    exact poisoning patterns) must stay exact WITH pruning on."""
    from airflow_postgres_csv_spark.sources.snapshot_batch import (
        snapshot_sql_register,
    )

    root = str(tmp_path / "t")
    for lo in (0, 100, 200, 300):
        snapshot_commit(
            _df(spark, lo, lo + 100).repartition(2), root, partition_by=["id"]
        )
    snapshot_sql_register(spark, "sv_safe", root)
    assert spark.sql("SELECT COUNT(*) AS n FROM sv_safe").first().n == 400
    assert (
        spark.sql("SELECT COUNT(*) AS n FROM sv_safe WHERE id >= 350").first().n
        == 50
    )
    assert spark.sql("SELECT COUNT(*) AS n FROM sv_safe").first().n == 400
    assert (
        spark.sql("SELECT COUNT(*) AS n FROM sv_safe WHERE id < 50").first().n
        == 50
    )
    assert spark.sql("SELECT COUNT(*) AS n FROM sv_safe").first().n == 400
    # symmetric self-join (join-key constraint propagation makes both
    # scans' filters equal) and ASYMMETRIC self-join (divergent filters
    # — the fallback shape)
    row = spark.sql(
        """
        SELECT COUNT(*) AS n FROM sv_safe a
        JOIN sv_safe b ON a.id = b.id WHERE b.id >= 390
        """
    ).first()
    assert row.n == 10
    row = spark.sql(
        """
        SELECT COUNT(*) AS n FROM sv_safe a
        JOIN sv_safe b ON a.id = b.id WHERE b.id >= 390 AND a.v < 790
        """
    ).first()
    assert row.n == 5  # ids 390..394
    # optimizer-duplicated CTE: two scans, divergent pushed filters
    assert (
        spark.sql(
            """
            WITH c AS (SELECT * FROM sv_safe)
            SELECT COUNT(*) AS n FROM (
              SELECT * FROM c WHERE id < 50
              UNION ALL SELECT * FROM c WHERE id >= 350
            )
            """
        ).first().n
        == 100
    )
    # scalar subquery over the same view (subquery scan would poison the
    # outer scan's cache without the fallback)
    assert (
        spark.sql(
            """
            SELECT COUNT(*) AS n FROM sv_safe
            WHERE id > (SELECT MAX(id) - 10 FROM sv_safe WHERE id < 100)
            """
        ).first().n
        == 310
    )
    # and pruning is genuinely ON through the same long-lived view
    n_full = spark.sql("SELECT * FROM sv_safe").rdd.getNumPartitions()
    n_sel = spark.sql(
        "SELECT * FROM sv_safe WHERE id >= 350"
    ).rdd.getNumPartitions()
    assert 0 < n_sel < n_full, (n_sel, n_full)


def test_sql_view_version_pin_and_join(spark, tmp_path):
    """A version-pinned view time-travels in SQL text; two views join in
    one statement; re-registering the unpinned view sees new commits."""
    from airflow_postgres_csv_spark.sources.snapshot_batch import (
        snapshot_sql_register,
    )

    t1, t2 = str(tmp_path / "a"), str(tmp_path / "b")
    snapshot_commit(_df(spark, 0, 10), t1)
    snapshot_commit(_df(spark, 10, 20), t1)
    snapshot_commit(
        spark.range(0, 20).select("id", (F.col("id") % 3).alias("grp")), t2
    )
    snapshot_sql_register(spark, "sv_a1", t1, version=1)
    snapshot_sql_register(spark, "sv_b", t2)
    row = spark.sql(
        """
        SELECT COUNT(*) AS n, CAST(SUM(a.v) AS BIGINT) AS sv
        FROM sv_a1 a JOIN sv_b b ON a.id = b.id WHERE b.grp = 0
        """
    ).first()
    # v1 of a = ids 0..9; grp 0 = ids {0,3,6,9,12,15,18} -> join keeps 4
    assert (row.n, row.sv) == (4, 2 * (0 + 3 + 6 + 9))
    snapshot_commit(_df(spark, 20, 25), t1)
    snapshot_sql_register(spark, "sv_a_live", t1)
    assert spark.sql("SELECT COUNT(*) AS n FROM sv_a_live").first().n == 25
    # the pinned view still reads version 1 after the new commit
    assert spark.sql("SELECT COUNT(*) AS n FROM sv_a1").first().n == 10


def test_sql_view_hook_survives_torn_down_root(spark, tmp_path):
    """A registered pruning view whose table root was deleted (scratch
    dir cleanup) must not poison later statements that merely mention
    the name: the hook unregisters it on refresh failure and the
    statement proceeds."""
    import shutil

    from airflow_postgres_csv_spark.sources.snapshot_batch import (
        snapshot_sql_register,
    )

    root = str(tmp_path / "gone")
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)
    snapshot_sql_register(spark, "sv_gone", root)
    assert spark.sql("SELECT COUNT(*) n FROM sv_gone").first().n == 10
    shutil.rmtree(root)
    # the name appears only as a string literal — statement must succeed
    row = spark.sql("SELECT 'sv_gone' AS who, 1 AS one").first()
    assert (row.who, row.one) == ("sv_gone", 1)


def test_sql_view_derived_objects_stay_exact(spark, tmp_path):
    """A statement that CREATES a derived object over a registered
    pruning view (temp view, CACHE) pins a relation BEYOND the
    statement, and later statements over the derived name bypass the
    hook — so the hook gives such statements an always-safe full-list
    relation. The exact poisoning sequence (filtered over the derived
    view, then filterless) must stay exact."""
    from airflow_postgres_csv_spark.sources.snapshot_batch import (
        snapshot_sql_register,
    )

    root = str(tmp_path / "t")
    for lo in (0, 100, 200, 300):
        snapshot_commit(
            _df(spark, lo, lo + 100).repartition(2), root, partition_by=["id"]
        )
    snapshot_sql_register(spark, "sv_base", root)
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW sv_derived AS "
              "SELECT id, v FROM sv_base")
    assert (
        spark.sql("SELECT COUNT(*) n FROM sv_derived WHERE id >= 350").first().n
        == 50
    )
    assert spark.sql("SELECT COUNT(*) n FROM sv_derived").first().n == 400
    assert (
        spark.sql("SELECT COUNT(*) n FROM sv_derived WHERE id < 50").first().n
        == 50
    )
    assert spark.sql("SELECT COUNT(*) n FROM sv_derived").first().n == 400
    # direct statements over the registered name still prune
    n_full = spark.sql("SELECT * FROM sv_base").rdd.getNumPartitions()
    n_sel = spark.sql(
        "SELECT * FROM sv_base WHERE id >= 350"
    ).rdd.getNumPartitions()
    assert 0 < n_sel < n_full
    spark.catalog.dropTempView("sv_derived")


def test_sql_view_spark_table_handle_is_reuse_safe(spark, tmp_path):
    """spark.table(name) on a registered pruning view returns a handle
    the caller may save and reuse across differently-filtered queries —
    it gets its own always-safe full-list relation (the per-relation
    scan cache cannot be made filter-exact for a long-lived handle), so
    the filtered-then-filterless reuse stays exact."""
    from airflow_postgres_csv_spark.sources.snapshot_batch import (
        snapshot_sql_register,
    )

    root = str(tmp_path / "t")
    for lo in (0, 100, 200, 300):
        snapshot_commit(
            _df(spark, lo, lo + 100).repartition(2), root, partition_by=["id"]
        )
    snapshot_sql_register(spark, "sv_handle", root)
    t = spark.table("sv_handle")
    assert t.filter("id >= 350").count() == 50
    assert t.count() == 400  # the poisoning reuse pattern stays exact
    # and the statement path still prunes afterwards
    n_full = spark.sql("SELECT * FROM sv_handle").rdd.getNumPartitions()
    n_sel = spark.sql(
        "SELECT * FROM sv_handle WHERE id >= 350"
    ).rdd.getNumPartitions()
    assert 0 < n_sel < n_full


def test_sql_repeated_statement_stays_exact_across_commits(spark, tmp_path):
    """A statement repeated over one long-lived view stays exact, an
    interleaved different statement does not disturb it, and after a new
    commit the unpinned view sees the new rows while a version-pinned
    view over the same table does not."""
    from airflow_postgres_csv_spark.sources.snapshot_batch import (
        snapshot_sql_register,
    )

    root = str(tmp_path / "t")
    for lo in (0, 100):
        snapshot_commit(
            _df(spark, lo, lo + 100).repartition(2), root, partition_by=["id"]
        )
    snapshot_sql_register(spark, "sv_reuse", root)
    snapshot_sql_register(spark, "sv_reuse_v2", root, version=2)
    q = "SELECT COUNT(*) AS n FROM sv_reuse WHERE id >= 150"
    assert spark.sql(q).first().n == 50
    assert spark.sql(q).first().n == 50
    assert spark.sql(q).first().n == 50
    assert spark.sql("SELECT COUNT(*) AS n FROM sv_reuse").first().n == 200
    assert spark.sql(q).first().n == 50
    assert spark.sql(q).first().n == 50
    snapshot_commit(
        _df(spark, 200, 260).repartition(2), root, partition_by=["id"]
    )
    assert spark.sql(q).first().n == 110
    assert spark.sql("SELECT COUNT(*) AS n FROM sv_reuse").first().n == 260
    pinned = "SELECT COUNT(*) AS n FROM sv_reuse_v2 WHERE id >= 150"
    assert spark.sql(pinned).first().n == 50
    assert spark.sql("SELECT COUNT(*) AS n FROM sv_reuse_v2").first().n == 200


def test_sql_parameterized_statements_never_reuse(spark, tmp_path):
    """Parameterized statements bind DIFFERENT literals into identical
    text — the reuse fast path must never serve the previous binding's
    pruned partitions."""
    from airflow_postgres_csv_spark.sources.snapshot_batch import (
        snapshot_sql_register,
    )

    root = str(tmp_path / "t")
    for lo in (0, 100):
        snapshot_commit(
            _df(spark, lo, lo + 100).repartition(2), root, partition_by=["id"]
        )
    snapshot_sql_register(spark, "sv_param", root)
    q = "SELECT COUNT(*) AS n FROM sv_param WHERE id >= :lo"
    assert spark.sql(q, args={"lo": 150}).first().n == 50
    assert spark.sql(q, args={"lo": 10}).first().n == 190
    assert spark.sql(q, args={"lo": 150}).first().n == 50


def test_two_tombstones_on_one_file_read_exact(spark, tmp_path):
    """An equality delete and then a positional update on the SAME file:
    every read surface returns the operator path's rows. The data
    source builds each tombstone's mask against the unfiltered file —
    masking positions of an already-filtered table removed the wrong
    row."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_update_where,
    )
    from airflow_postgres_csv_spark.sources.snapshot_batch import (
        snapshot_sql_register,
    )

    root = str(tmp_path / "t")
    snapshot_commit(
        spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ).coalesce(1),
        root,
    )
    snapshot_delete_mor(spark, root, "k = 2", "k")
    snapshot_update_where(spark, root, "k = 5", {"v": "v + 1"})
    snapshot_sql_register(spark, "sv_two_tombs", root)
    reads = {
        "source": spark.read.format("snapshot_table").load(root),
        "sql": spark.sql("SELECT * FROM sv_two_tombs"),
        "operator": snapshot_read(spark, root),
    }
    for how, df in reads.items():
        rows = {(r.k, r.v) for r in df.collect()}
        assert (5, 51) in rows and (6, 60) in rows, (how, sorted(rows))
        assert (5, 50) not in rows and len(rows) == 9, (how, sorted(rows))


class _Py4jCalls:
    """Counts gateway round trips while active — except the memory
    commands py4j sends when Python drops a Java reference, whose number
    depends on when the garbage collector runs."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0

    def __enter__(self):
        inner = self.client.send_command

        def send_command(command, *a, **k):
            if not command.startswith("m\n"):
                self.calls += 1
            return inner(command, *a, **k)

        self.client.send_command = send_command
        return self

    def __exit__(self, *exc):
        del self.client.send_command  # back to the class method


def test_sql_view_plans_native_scan_within_py4j_budget(spark, tmp_path):
    """A statement over a registered view plans native parquet scans —
    no Python data-source leaf — and register plus statement stay within
    a fixed budget of py4j round trips: measured 90 for the unpruned
    statement and 138 for the pruned one (which plans twice) on pyspark
    4.1.2, plus about 20% headroom."""
    from airflow_postgres_csv_spark.plans import introspect as I
    from airflow_postgres_csv_spark.sources.snapshot_batch import (
        snapshot_sql_register,
    )

    root = str(tmp_path / "t")
    for lo in (0, 100, 200, 300):
        snapshot_commit(
            _df(spark, lo, lo + 100).repartition(2), root, partition_by=["id"]
        )
    snapshot_delete_mor(spark, root, condition="id % 9 = 4", key_col="id")
    snapshot_sql_register(spark, "sv_plan", root)  # warm the hook
    for text, budget in (
        ("SELECT * FROM sv_plan WHERE id % 4 = 1", 108),
        ("SELECT * FROM sv_plan WHERE id >= 350", 166),
    ):
        with _Py4jCalls(spark) as counter:
            snapshot_sql_register(spark, "sv_plan", root)
            df = spark.sql(text)
        assert counter.calls <= budget, (text, counter.calls)
        plan = I.physical_plan(df)
        assert "FileScan parquet" in plan, plan
        assert "BatchScan" not in plan and "PythonTable" not in plan, plan
        assert "snapshot_table" not in plan, plan


def test_sql_view_prunes_to_union_of_outer_and_subquery_scans(spark, tmp_path):
    """The outer scan and a scalar subquery's scan of one view keep
    disjoint commits: the statement reads the union, so the subquery
    still sees its rows, and files neither scan needs are pruned — also
    with a positional tombstone, whose (file, pos) scan carries no range
    of its own."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_update_where,
    )
    from airflow_postgres_csv_spark.sources.snapshot_batch import (
        snapshot_sql_register,
    )

    root = str(tmp_path / "t")
    for lo in (0, 100, 200, 300):
        snapshot_commit(
            _df(spark, lo, lo + 100).repartition(2), root, partition_by=["id"]
        )
    snapshot_update_where(spark, root, "id = 360", {"v": "v + 1"})
    snapshot_sql_register(spark, "sv_sub", root)
    q = (
        "SELECT * FROM sv_sub WHERE id >= 350 "
        "AND v > (SELECT MIN(v) + 90 FROM sv_sub WHERE id < 50)"
    )
    assert spark.sql(q).count() == 50
    full = set(spark.sql("SELECT * FROM sv_sub").inputFiles())
    assert set(spark.sql(q).inputFiles()) < full
