"""Branch / write-audit-publish (WAP) semantics on snapshot tables.

Covers operators/branches.py: branch creation is a zero-copy in-root
clone, publish is an atomic fast-forward that refuses when main moved,
WAP gates aggregate audits against the FULL would-be table state, and
all root-rollup metadata (sizes, partition specs, sketches) survives a
publish so the advisor / DESCRIBE DETAIL / pruning keep working on main.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from airflow_postgres_csv_spark.operators.branches import (
    AuditError,
    snapshot_branch,
    snapshot_branches,
    snapshot_drop_branch,
    snapshot_publish_branch,
    write_audit_publish,
)
from airflow_postgres_csv_spark.operators.snapshots import (
    SnapshotConflictError,
    snapshot_commit,
    snapshot_read,
    snapshot_versions,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id"), (F.col("id") * 2).alias("v"))


def test_branch_create_commit_publish(spark, tmp_path):
    """Branch = zero-copy clone inside the root; a branch commit then a
    publish fast-forwards main in one manifest, consuming the branch."""
    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)
    snapshot_commit(_df(spark, 10, 20).coalesce(1), root)
    broot = snapshot_branch(root, "etl")
    # zero-copy: every branch data file shares its inode with main
    from airflow_postgres_csv_spark.operators.snapshots import _load_manifest

    bm1 = _load_manifest(broot, 1)
    for rel in bm1["files"]:
        assert os.stat(os.path.join(broot, rel)).st_nlink >= 2
    assert snapshot_branches(root) == {
        "etl": {"base": 2, "head": 1, "root": broot}
    }
    # main is invisible to the branch commit until publish
    snapshot_commit(_df(spark, 20, 30).coalesce(1), broot)
    assert snapshot_read(spark, root).count() == 20
    m = snapshot_publish_branch(root, "etl")
    assert m["mode"] == "publish_branch" and m["version"] == 3
    assert m["branch"] == "etl" and m["branch_base"] == 2
    assert snapshot_read(spark, root).count() == 30
    # published rows are exactly the branch head's logical state
    assert snapshot_read(spark, root).agg(F.sum("v")).first()[0] == 870
    # branch consumed; time travel on main still sees the pre-publish state
    assert snapshot_branches(root) == {}
    assert snapshot_read(spark, root, version=2).count() == 20


def test_publish_is_fast_forward_only(spark, tmp_path):
    """If main advanced past the branch base, publish refuses atomically
    (main untouched) rather than silently dropping main's commits."""
    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 5).coalesce(1), root)
    snapshot_branch(root, "b")
    snapshot_commit(_df(spark, 100, 105).coalesce(1), root)  # main races ahead
    with pytest.raises(SnapshotConflictError):
        snapshot_publish_branch(root, "b")
    assert snapshot_versions(root) == [1, 2]
    assert snapshot_read(spark, root).count() == 10
    # the branch survives the refused publish for re-branch-and-replay
    assert "b" in snapshot_branches(root)
    snapshot_drop_branch(root, "b")
    assert snapshot_branches(root) == {}


@pytest.mark.parametrize("rebase", [False, True], ids=["fast_forward", "rebase"])
def test_publish_keeps_main_stream_stamps(spark, tmp_path, rebase):
    """A branch starts as a clone WITHOUT main's stream stamps; both
    publish paths merge them by max, so main's head keeps its
    ``last_batch_id`` and a replayed batch is still dropped after
    ``snapshot_expire`` removed every older carrier."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        _load_manifest,
        snapshot_expire,
    )
    from airflow_postgres_csv_spark.streaming.sinks import snapshot_batch_commit

    root = str(tmp_path / "t")
    for bid in range(3):
        lo = bid * 10
        assert snapshot_batch_commit(_df(spark, lo, lo + 10), bid, root)
    broot = snapshot_branch(root, "b")
    snapshot_commit(_df(spark, 30, 33), broot)
    if rebase:
        snapshot_commit(_df(spark, 40, 41), root)  # main moves on
    snapshot_publish_branch(root, "b", rebase=rebase)
    head = _load_manifest(root, snapshot_versions(root)[-1])
    assert head.get("last_batch_id") == 2
    snapshot_expire(root, keep_last=1)
    assert snapshot_batch_commit(_df(spark, 10, 20), 1, root) is False
    assert snapshot_read(spark, root).count() == 33 + rebase


def test_branch_mor_delete_publishes_tombstones(spark, tmp_path):
    """Branch-side MOR deletes publish as tombstones: main's head hides
    the rows without a rewrite, and the key files travel with the link."""
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_delete_mor

    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)
    broot = snapshot_branch(root, "fix")
    snapshot_delete_mor(spark, broot, "id >= 7", key_col="id")
    m = snapshot_publish_branch(root, "fix")
    assert m["tombstones"], "branch tombstones must publish to main"
    got = sorted(r[0] for r in snapshot_read(spark, root).select("id").collect())
    assert got == list(range(7))


def test_publish_carries_root_rollups(spark, tmp_path):
    """Size rollups, sketches, and hidden-partition specs recorded on the
    branch must survive the publish so main's metadata-only surfaces
    (advisor, DESCRIBE DETAIL, partition pruning) keep answering."""
    root = str(tmp_path / "t")
    snapshot_commit(
        _df(spark, 0, 10).coalesce(1), root,
        partition_transforms=[("id", "bucket", 4)], sketch_cols=["v"],
    )
    broot = snapshot_branch(root, "grow")
    snapshot_commit(
        _df(spark, 10, 20).coalesce(1), broot,
        partition_transforms=[("id", "bucket", 4)], sketch_cols=["v"],
    )
    m = snapshot_publish_branch(root, "grow")
    # every pinned commit has a size rollup and a partition summary
    cids = set(m["commit_files"])
    assert set(m["commit_sizes"]) >= cids
    assert set(m["commit_partitions"]) >= cids
    assert len(m["sketch_commits"]) == 2 and m["partition_specs"]


def test_wap_publishes_on_pass(spark, tmp_path):
    """write_audit_publish: aggregate audits (SQL and callable) run over
    the staged FULL table state; on pass main fast-forwards."""
    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)
    m = write_audit_publish(
        spark, root, _df(spark, 10, 20).coalesce(1),
        audits={
            "nonempty": "count(*) = 20",           # sees base + increment
            "no_null_keys": "count_if(id IS NULL) = 0",
            "callable": lambda df: df.agg(F.max("id")).first()[0] == 19,
        },
    )
    assert m["mode"] == "publish_branch"
    assert snapshot_read(spark, root).count() == 20
    assert snapshot_branches(root) == {}


def test_wap_fail_leaves_main_untouched_and_retains_branch(spark, tmp_path):
    """A failed audit aborts before any main mutation; the quarantined
    branch is retained and readable for triage."""
    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)
    with pytest.raises(AuditError) as ei:
        write_audit_publish(
            spark, root, _df(spark, 10, 20).coalesce(1),
            audits={"too_small": "count(*) >= 1000", "ok": "count(*) = 20"},
            branch="quarantine",
        )
    assert ei.value.failed == ["too_small"]
    assert snapshot_versions(root) == [1]
    assert snapshot_read(spark, root).count() == 10
    b = snapshot_branches(root)["quarantine"]
    assert snapshot_read(spark, b["root"]).count() == 20  # triage read
    snapshot_drop_branch(root, "quarantine")


def test_branch_name_validation(spark, tmp_path):
    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 3).coalesce(1), root)
    for bad in ("", "a/b", ".hidden", "../escape"):
        with pytest.raises(ValueError):
            snapshot_branch(root, bad)
    snapshot_branch(root, "ok")
    with pytest.raises(FileExistsError):
        snapshot_branch(root, "ok")


def test_snapshot_transaction_atomic_publish(spark, tmp_path):
    """Multi-statement transaction: append + MOR delete become ONE main
    version; mid-transaction main never sees partial state."""
    from airflow_postgres_csv_spark.operators.branches import snapshot_transaction
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_delete_mor

    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)
    with snapshot_transaction(root) as txn:
        snapshot_commit(_df(spark, 10, 20).coalesce(1), txn)
        snapshot_delete_mor(spark, txn, "id < 3", key_col="id")
        assert snapshot_read(spark, root).count() == 10  # invisible yet
    assert snapshot_versions(root) == [1, 2]  # one version for two stmts
    got = sorted(r[0] for r in snapshot_read(spark, root).select("id").collect())
    assert got == list(range(3, 20))


def test_snapshot_transaction_rollback_on_error(spark, tmp_path):
    from airflow_postgres_csv_spark.operators.branches import snapshot_transaction

    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)
    with pytest.raises(RuntimeError, match="boom"):
        with snapshot_transaction(root) as txn:
            snapshot_commit(_df(spark, 10, 20).coalesce(1), txn)
            raise RuntimeError("boom")
    assert snapshot_versions(root) == [1]
    assert snapshot_read(spark, root).count() == 10
    assert snapshot_branches(root) == {}  # txn branch cleaned up


def test_snapshot_transaction_drops_branch_on_publish_conflict(spark, tmp_path):
    """A transaction aborted by a concurrent main commit (first committer
    wins) must drop its ephemeral txn-<hex> branch exactly like the
    exception path — retried transactions must not accumulate
    random-named branches pinning hardlinked data."""
    from airflow_postgres_csv_spark.operators.branches import snapshot_transaction

    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)
    with pytest.raises(SnapshotConflictError):
        with snapshot_transaction(root) as txn:
            snapshot_commit(_df(spark, 10, 20).coalesce(1), txn)
            # concurrent writer moves main before our publish
            snapshot_commit(_df(spark, 50, 55).coalesce(1), root)
    assert snapshot_branches(root) == {}  # aborted txn left no branch
    assert snapshot_versions(root) == [1, 2]  # only the concurrent commit
    got = sorted(r[0] for r in snapshot_read(spark, root).select("id").collect())
    assert got == list(range(0, 10)) + list(range(50, 55))


def test_link_back_tolerates_concurrent_link(spark, tmp_path, monkeypatch):
    """_link_back's exists-then-link race: if a concurrent publish links
    the same inode between our exists() check and os.link, the
    FileExistsError is absorbed (same content — safe), and the publish
    proceeds to the manifest-link arbitration instead of dying midway."""
    from airflow_postgres_csv_spark.operators import branches as B

    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)
    broot = snapshot_branch(root, "feed")
    snapshot_commit(_df(spark, 10, 20).coalesce(1), broot)

    real_exists = os.path.exists

    def racy_exists(path):
        # simulate the loser of the race: report absent, then have the
        # winner link the branch file into the root before our os.link
        if real_exists(path):
            return True
        rel = os.path.relpath(path, root)
        src = os.path.join(broot, rel)
        if real_exists(src) and not path.endswith(".json"):
            os.makedirs(os.path.dirname(path), exist_ok=True)
            os.link(src, path)
        return False

    monkeypatch.setattr(
        "airflow_postgres_csv_spark.operators.branches.os.path.exists",
        racy_exists,
    )
    m = snapshot_publish_branch(root, "feed")
    monkeypatch.undo()
    assert m["mode"] == "publish_branch"
    assert snapshot_read(spark, root).count() == 20


def test_catalog_wap_default_branch_is_collision_free(spark, tmp_path):
    """Default (no explicit branch): each attempt stages under a fresh
    wap-<hex> name, so a failed attempt's triage branches survive a
    subsequent successful attempt instead of being clobbered."""
    from airflow_postgres_csv_spark.operators.catalog_txn import (
        catalog_read,
        catalog_write_audit_publish,
    )

    cat = str(tmp_path / "cat")
    r1 = str(tmp_path / "t1")
    with pytest.raises(AuditError):
        catalog_write_audit_publish(
            spark, cat,
            [{"name": "t", "root": r1, "df": _df(spark, 0, 5).coalesce(1)}],
            audits={"t": {"big": "count(*) > 100"}},
        )
    left = set(snapshot_branches(r1))
    assert len(left) == 1
    (triage_name,) = left
    assert triage_name.startswith("wap-") and triage_name != "wap"
    # second (passing) default-named attempt neither reuses nor drops it
    catalog_write_audit_publish(
        spark, cat,
        [{"name": "t", "root": r1, "df": _df(spark, 0, 5).coalesce(1)}],
    )
    assert catalog_read(spark, cat, "t").count() == 5
    assert set(snapshot_branches(r1)) == {triage_name}  # triage retained


def test_rebase_publish_append_only_branch(spark, tmp_path):
    """An append-only branch publishes onto a MOVED main head: both
    sides' rows land, main's concurrent tombstones survive, and the
    merged manifest keeps per-commit metadata for the replayed commits."""
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_delete_mor

    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root, sketch_cols=["v"])
    broot = snapshot_branch(root, "feed")
    snapshot_commit(_df(spark, 100, 110).coalesce(1), broot, sketch_cols=["v"])
    snapshot_commit(_df(spark, 110, 120).coalesce(1), broot, sketch_cols=["v"])
    # main races ahead: one append + one MOR delete
    snapshot_commit(_df(spark, 50, 55).coalesce(1), root, sketch_cols=["v"])
    snapshot_delete_mor(spark, root, "id = 0", key_col="id")
    with pytest.raises(SnapshotConflictError):
        snapshot_publish_branch(root, "feed")  # plain FF refuses
    m = snapshot_publish_branch(root, "feed", rebase=True)
    assert m["rebased"] is True and m["branch_commits"] == 2
    got = sorted(r[0] for r in snapshot_read(spark, root).select("id").collect())
    assert got == list(range(1, 10)) + list(range(50, 55)) + list(range(100, 120))
    # per-commit rollups merged for every pinned commit
    cids = set(m["commit_files"])
    assert set(m["commit_sizes"]) >= cids and set(m["commit_ranges"]) >= cids


def test_rebase_refuses_interleavable_changes(spark, tmp_path):
    """Rebase only ever replays append-only branches: fork-point file
    rewrites, deletes into fork-point commits, and schema evolution all
    refuse once main has moved."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_delete,
        snapshot_delete_mor,
    )

    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)

    def moved_main_branch(name, lo):
        broot = snapshot_branch(root, name)
        snapshot_commit(_df(spark, lo, lo + 5).coalesce(1), root)  # main moves
        return broot

    # 1) branch COW-deletes fork-point rows (rewrites shared files)
    b1 = moved_main_branch("cow", 200)
    snapshot_delete(spark, b1, "id", 0, 1)
    with pytest.raises(SnapshotConflictError, match="rewrote or removed"):
        snapshot_publish_branch(root, "cow", rebase=True)
    snapshot_drop_branch(root, "cow")
    # 2) branch MOR-deletes rows from a fork-point commit main REWROTE
    #    (marker changed) — refused; an untouched fork-point commit is
    #    fine (case 5 below)
    b2 = moved_main_branch("mor", 210)
    snapshot_delete_mor(spark, b2, "id = 5", key_col="id")
    snapshot_delete(spark, root, "id", 5, 6)  # main rewrites that commit
    with pytest.raises(SnapshotConflictError, match="fork-point commits"):
        snapshot_publish_branch(root, "mor", rebase=True)
    snapshot_drop_branch(root, "mor")
    # 3) branch evolves the schema
    b3 = moved_main_branch("evo", 220)
    snapshot_commit(
        _df(spark, 20, 25).withColumn("extra", F.lit(1)).coalesce(1),
        b3, allow_schema_change=True,
    )
    with pytest.raises(SnapshotConflictError, match="schema"):
        snapshot_publish_branch(root, "evo", rebase=True)
    # 4) a branch MOR delete of its OWN appended rows is still rebasable
    b4 = moved_main_branch("own", 230)
    snapshot_commit(_df(spark, 300, 310).coalesce(1), b4)
    snapshot_delete_mor(spark, b4, "id >= 305", key_col="id")
    m = snapshot_publish_branch(root, "own", rebase=True)
    assert m["rebased"] is True
    expect = (
        [i for i in range(10) if i not in (5, 6)] + list(range(200, 205))
        + list(range(210, 215)) + list(range(220, 225))
        + list(range(230, 235)) + list(range(300, 305))
    )
    got = sorted(r[0] for r in snapshot_read(spark, root).select("id").collect())
    assert got == expect
    # 5) a branch MOR delete into an UNTOUCHED fork-point commit rebases:
    #    the equal commit marker proves main never rewrote it
    b5 = moved_main_branch("mor_ok", 240)
    snapshot_delete_mor(spark, b5, "id = 231", key_col="id")
    m = snapshot_publish_branch(root, "mor_ok", rebase=True)
    assert m["rebased"] is True
    got = sorted(r[0] for r in snapshot_read(spark, root).select("id").collect())
    assert got == sorted(set(expect + list(range(240, 245))) - {231})


def test_streaming_wap_sink_restart_and_quarantine(spark, tmp_path):
    """The streaming WAP body across a checkpointed RESTART: published batches
    are exactly-once (replays skip on the batch-id stamp), a failing
    batch quarantines on its retained branch without stopping the
    stream, and the bootstrap batch creates main's v1 through the same
    gate."""
    import shutil

    from airflow_postgres_csv_spark.streaming.sinks import (
        start_batch_sink,
        wap_batch,
    )

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "t")

    def stage(i, df):
        d = tmp_path / f"stage{i}"
        df.coalesce(1).write.parquet(str(d))
        f = next(p for p in d.iterdir() if p.name.endswith(".parquet")
                 and not p.name.startswith(("_", ".")))
        dst = src / f"{i:03d}.parquet"
        shutil.move(str(f), str(dst))
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    audits = {"no_negatives": "count_if(v < 0) = 0"}
    stream = lambda: spark.readStream.schema(  # noqa: E731
        _df(spark, 0, 1).schema
    ).option("maxFilesPerTrigger", "1").parquet(str(src))

    def wap_sink(s):
        return start_batch_sink(
            s, lambda df, bid: wap_batch(df, bid, root, audits), ckpt
        )

    stage(0, _df(spark, 0, 10))                       # bootstrap, clean
    stage(1, _df(spark, 10, 20).withColumn("v", F.lit(-1)))  # audit fail
    q = wap_sink(stream())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert snapshot_read(spark, root).count() == 10   # batch 1 quarantined
    assert list(snapshot_branches(root)) == ["wap-1"]
    assert snapshot_read(
        spark, snapshot_branches(root)["wap-1"]["root"]
    ).count() == 20
    # restart with a new clean file: only batch 2 lands, no replays
    stage(2, _df(spark, 20, 30))
    q = wap_sink(stream())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r[0] for r in snapshot_read(spark, root).select("id").collect())
    assert got == list(range(10)) + list(range(20, 30))
    from airflow_postgres_csv_spark.operators.snapshots import _load_manifest

    assert _load_manifest(root, 2)["last_batch_id"] == 2
    assert snapshot_versions(root) == [1, 2]


def test_bootstrap_branch_and_wap_on_empty_table(spark, tmp_path):
    """WAP on a table with no versions: the bootstrap branch stages v1;
    publish creates main's first version, audit failure leaves main
    nonexistent with the staged branch retained."""
    root = str(tmp_path / "t")
    with pytest.raises(AuditError):
        write_audit_publish(
            spark, root, _df(spark, 0, 5).coalesce(1),
            audits={"big": "count(*) >= 100"}, branch="boot",
        )
    assert snapshot_versions(root) == []
    assert snapshot_read(
        spark, snapshot_branches(root)["boot"]["root"]
    ).count() == 5
    snapshot_drop_branch(root, "boot")
    m = write_audit_publish(
        spark, root, _df(spark, 0, 5).coalesce(1), audits={"ok": "count(*) = 5"},
    )
    assert m["version"] == 1 and m["mode"] == "publish_branch"
    assert snapshot_read(spark, root).count() == 5


def test_branch_readable_via_source_and_sql(spark, tmp_path):
    """A branch is addressable through the batch data source
    (option('branch', name)) and through snapshot_sql_register(branch=)
    — WAP triage in plain SQL, same pruned scan path; main unaffected."""
    from airflow_postgres_csv_spark.sources.snapshot_batch import (
        register_snapshot_table,
        snapshot_sql_register,
    )

    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)
    broot = snapshot_branch(root, "triage")
    snapshot_commit(_df(spark, 10, 20).coalesce(1), broot)
    register_snapshot_table(spark)
    got = (
        spark.read.format("snapshot_table")
        .option("branch", "triage")
        .load(root)
    )
    assert got.count() == 20
    assert spark.read.format("snapshot_table").load(root).count() == 10
    snapshot_sql_register(spark, "t_triage", root, branch="triage")
    assert spark.sql(
        "SELECT count(*) AS n, max(id) AS mx FROM t_triage"
    ).first().asDict() == {"n": 20, "mx": 19}


def test_advisor_flags_stale_branches(spark, tmp_path):
    """The maintenance advisor reports branch debt from metadata alone:
    fresh branches count in metrics, stale ones (head older than the
    age threshold) produce a drop_branches action naming them."""
    from airflow_postgres_csv_spark.operators.maintenance import (
        snapshot_maintenance_plan,
        snapshot_table_stats,
    )

    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)
    broot = snapshot_branch(root, "wip")
    snapshot_commit(_df(spark, 10, 12).coalesce(1), broot)
    plan = snapshot_maintenance_plan(root)
    assert plan["metrics"]["n_branches"] == 1
    assert plan["metrics"]["stale_branches"] == 0
    assert not any(a["action"] == "drop_branches" for a in plan["actions"])
    assert snapshot_table_stats(root)["n_branches"] == 1
    # age threshold 0: everything with a committed head is stale
    plan = snapshot_maintenance_plan(root, max_branch_age_s=0)
    acts = [a for a in plan["actions"] if a["action"] == "drop_branches"]
    assert len(acts) == 1 and acts[0]["branches"] == ["wip"]
    snapshot_drop_branch(root, "wip")
    assert snapshot_table_stats(root)["n_branches"] == 0


def test_rebase_survives_expired_fork_point(spark, tmp_path):
    """A long-lived branch stays publishable after main EXPIRED its fork
    version: the fork-point state is read from the branch's own clone
    manifest, so rebase never needs main to retain history."""
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_expire

    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)
    broot = snapshot_branch(root, "slow")
    snapshot_commit(_df(spark, 100, 110).coalesce(1), broot)
    snapshot_commit(_df(spark, 50, 55).coalesce(1), root)   # main moves...
    snapshot_expire(root, keep_last=1)                       # ...and forgets v1
    assert snapshot_versions(root) == [2]
    m = snapshot_publish_branch(root, "slow", rebase=True)
    assert m["rebased"] is True
    got = sorted(r[0] for r in snapshot_read(spark, root).select("id").collect())
    assert got == list(range(10)) + list(range(50, 55)) + list(range(100, 110))


def test_catalog_write_audit_publish(spark, tmp_path):
    """Multi-table WAP: per-table + cross-table audits over the staged
    branch states; failure retains a mutually-consistent triage snapshot
    on every table and flips nothing; success publishes every branch and
    pins all tables in one catalog version."""
    from airflow_postgres_csv_spark.operators.catalog_txn import (
        catalog_read,
        catalog_state,
        catalog_versions,
        catalog_write_audit_publish,
    )

    cat = str(tmp_path / "cat")
    r1, r2 = str(tmp_path / "t1"), str(tmp_path / "t2")
    writes = [
        {"name": "docs", "root": r1, "df": _df(spark, 0, 10).coalesce(1)},
        {"name": "stats", "root": r2, "df": _df(spark, 0, 3).coalesce(1)},
    ]
    # cross-table audit fails: stats must have one row per docs-decade
    with pytest.raises(AuditError) as ei:
        catalog_write_audit_publish(
            spark, cat, writes, branch="wap",
            audits={"docs": {"nonempty": "count(*) > 0"}},
            cross_audits={
                "rollup_complete": lambda s: s["stats"].count()
                == s["docs"].count() // 10 * 2
            },
        )
    assert ei.value.failed == ["*:rollup_complete"]
    assert catalog_versions(cat) == []          # catalog untouched
    assert snapshot_versions(r1) == []           # no table root touched
    assert "wap" in snapshot_branches(r1) and "wap" in snapshot_branches(r2)
    # passing named retry: leftover branches are re-staged, everything lands
    m = catalog_write_audit_publish(
        spark, cat, writes, branch="wap",
        audits={"docs": {"nonempty": "count(*) > 0"},
                "stats": {"small": "count(*) <= 5"}},
        cross_audits={"fewer_stats": lambda s: s["stats"].count()
                      < s["docs"].count()},
    )
    assert sorted(m["tables"]) == ["docs", "stats"]
    assert catalog_read(spark, cat, "docs").count() == 10
    assert catalog_read(spark, cat, "stats").count() == 3
    assert snapshot_branches(r1) == {} and snapshot_branches(r2) == {}
    st = catalog_state(cat)
    assert st["docs"]["version"] == 1 and st["stats"]["version"] == 1


def test_catalog_wap_expect_pinned_surfaces_orphans(spark, tmp_path):
    """expect_pinned: a table whose head moved past its catalog pin
    (crash-orphaned or out-of-band commit) fails the staging loudly."""
    from airflow_postgres_csv_spark.operators.catalog_txn import (
        catalog_write_audit_publish,
    )

    cat = str(tmp_path / "cat")
    r1 = str(tmp_path / "t1")
    catalog_write_audit_publish(
        spark, cat, [{"name": "t", "root": r1,
                      "df": _df(spark, 0, 5).coalesce(1)}],
        expect_pinned=True,
    )
    snapshot_commit(_df(spark, 5, 8).coalesce(1), r1)  # out-of-band
    with pytest.raises(SnapshotConflictError, match="catalog pins"):
        catalog_write_audit_publish(
            spark, cat, [{"name": "t", "root": r1,
                          "df": _df(spark, 8, 10).coalesce(1)}],
            expect_pinned=True,
        )


def test_publish_is_metadata_only_and_o_changed_commits(spark, tmp_path, monkeypatch):
    """Structural pin: the publish's marker DIFF materializes only the
    branch's changed commits (base commits short-circuit on equal int
    markers), the publish itself runs zero stat calls and hardlinks only
    the files the branch added + its commit sidecars. Publish takes no
    SparkSession at all — the whole edge is driver-side metadata; its
    one O(commits) cost (re-packing the pinned file list) is the same
    cost every append commit already pays."""
    from airflow_postgres_csv_spark.operators import branches as B
    from airflow_postgres_csv_spark.operators import snapshots as S

    root = str(tmp_path / "t")
    for k in range(6):
        snapshot_commit(_df(spark, k * 10, (k + 1) * 10).coalesce(1), root)
    broot = snapshot_branch(root, "b")
    snapshot_commit(_df(spark, 100, 110).coalesce(2), broot)
    snapshot_commit(_df(spark, 110, 120).coalesce(2), broot)
    S._metadata_cache_clear()

    real_mat = S._commit_files_from_sidecar
    mats = []

    def counting_mat(root_, m, cid, marker):
        mats.append(cid)
        return real_mat(root_, m, cid, marker)

    monkeypatch.setattr(S, "_commit_files_from_sidecar", counting_mat)
    # the diff alone touches at most the 2 branch-added commits
    from airflow_postgres_csv_spark.operators.snapshots import (
        _load_manifest,
        snapshot_files_diff,
    )

    base_m = _load_manifest(broot, 1)
    bm = _load_manifest(broot, 3)
    added, removed = snapshot_files_diff(broot, base_m, bm)
    assert len(added) == 4 and not removed
    assert len(set(mats)) <= 2, f"diff materialized {sorted(set(mats))}"

    def bomb(path):
        raise AssertionError(f"os.path.getsize({path}) on the publish path")

    monkeypatch.setattr(B.os.path, "getsize", bomb, raising=False)
    real_link = os.link
    links = {"n": 0}

    def counting_link(src, dst):
        links["n"] += 1
        return real_link(src, dst)

    monkeypatch.setattr(B.os, "link", counting_link)
    B.snapshot_publish_branch(root, "b")
    assert snapshot_read(spark, root).count() == 80
    # linked exactly the branch's new data files + its 2 commit sidecars
    # + the atomic manifest link that IS the commit point
    assert links["n"] == 4 + 2 + 1


def test_branch_changes_review_diff(spark, tmp_path):
    """snapshot_branch_changes = the rows a publish would apply: inserts
    from branch appends, delete pre-images from branch MOR deletes,
    nothing from the fork point itself."""
    from airflow_postgres_csv_spark.operators.branches import (
        snapshot_branch_changes,
    )
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_delete_mor

    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)
    broot = snapshot_branch(root, "rev")
    snapshot_commit(_df(spark, 10, 15).coalesce(1), broot)
    snapshot_delete_mor(spark, broot, "id = 12", key_col="id")
    ch = snapshot_branch_changes(spark, root, "rev")
    rows = sorted(
        (r["_change_type"], r["id"]) for r in ch.select("_change_type", "id").collect()
    )
    assert rows == [("delete", 12)] + [("insert", i) for i in range(10, 15)]


def test_publish_flows_through_change_feed(spark, tmp_path):
    """A publish of an append+MOR-only branch is one ordinary change-feed
    step: the branch's inserts and delete pre-images emit at the publish
    version, so CDC mirrors downstream of a WAP/transaction table replay
    it with no extra machinery."""
    from airflow_postgres_csv_spark.operators.branches import snapshot_transaction
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_delete_mor,
        snapshot_table_changes,
    )

    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)
    with snapshot_transaction(root) as txn:
        snapshot_commit(_df(spark, 10, 15).coalesce(1), txn)
        snapshot_delete_mor(spark, txn, "id = 3", key_col="id")
    ch = snapshot_table_changes(spark, root, 1)  # the publish step only
    rows = sorted(
        (r["_change_type"], r["id"], r["_commit_version"])
        for r in ch.collect()
    )
    assert rows == [("delete", 3, 2)] + [("insert", i, 2) for i in range(10, 15)]


def test_threaded_branch_publish_race_rebases(spark, tmp_path):
    """N real threads each branch, commit, and rebase-publish with
    retries: every publish lands exactly once (first-writer-wins atomic
    link + O(manifest) rebase re-validation per retry), no rows lost,
    version chain contiguous."""
    import threading

    from airflow_postgres_csv_spark.operators.snapshots import _load_manifest

    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)
    # pre-stage every branch from the SAME base so the publishes race
    names = [f"w{k}" for k in range(5)]
    for k, name in enumerate(names):
        broot = snapshot_branch(root, name)
        snapshot_commit(
            _df(spark, 100 + k * 10, 100 + (k + 1) * 10).coalesce(1), broot
        )
    errors: list[Exception] = []

    def publisher(name: str) -> None:
        try:
            snapshot_publish_branch(root, name, rebase=True, retries=10)
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=publisher, args=(n,)) for n in names]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert snapshot_versions(root) == [1, 2, 3, 4, 5, 6]
    got = sorted(r[0] for r in snapshot_read(spark, root).select("id").collect())
    assert got == list(range(10)) + list(range(100, 150))
    # exactly one fast-forward won; the rest rebased past it
    rebased = [
        _load_manifest(root, v)["rebased"] for v in range(2, 7)
    ]
    assert rebased.count(False) == 1 and rebased.count(True) == 4
    assert snapshot_branches(root) == {}


def test_catalog_wap_with_ddl_promote(spark, tmp_path):
    """Write-audit-PROMOTE: stage + audit a rebuilt table under a
    scratch name, rename it over the live name in the same atomic
    catalog flip that pins the audited version."""
    from airflow_postgres_csv_spark.operators.catalog_txn import (
        catalog_read,
        catalog_tables,
        catalog_write_audit_publish,
    )

    cat = str(tmp_path / "cat")
    live, staged = str(tmp_path / "live"), str(tmp_path / "staged")
    catalog_write_audit_publish(
        spark, cat, [{"name": "t", "root": live,
                      "df": _df(spark, 0, 5).coalesce(1)}],
    )
    catalog_write_audit_publish(
        spark, cat,
        [{"name": "t_rebuild", "root": staged,
          "df": _df(spark, 0, 20).coalesce(1)}],
        audits={"t_rebuild": {"bigger": "count(*) > 5"}},
        ddl=[{"op": "drop", "name": "t"},
             {"op": "rename", "name": "t_rebuild", "to": "t"}],
    )
    assert list(catalog_tables(cat)) == ["t"]
    assert catalog_read(spark, cat, "t").count() == 20


def test_branch_from_tag_and_version(spark, tmp_path):
    """Branches fork from any pinned version or tag name; publish from a
    non-head fork refuses fast-forward (main moved past it) but rebases
    when append-only."""
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_tag

    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)
    snapshot_tag(root, "golden")
    snapshot_commit(_df(spark, 10, 20).coalesce(1), root)
    broot = snapshot_branch(root, "from_tag", version="golden")
    assert snapshot_read(spark, broot).count() == 10  # the tagged state
    snapshot_commit(_df(spark, 100, 105).coalesce(1), broot)
    with pytest.raises(SnapshotConflictError):
        snapshot_publish_branch(root, "from_tag")
    m = snapshot_publish_branch(root, "from_tag", rebase=True)
    assert m["rebased"] is True
    got = sorted(r[0] for r in snapshot_read(spark, root).select("id").collect())
    assert got == list(range(20)) + list(range(100, 105))


def test_wap_batch_crash_replay_redoes_stale_branch(spark, tmp_path):
    """Crash window: a leftover wap-<bid> branch with main unstamped
    proves the attempt never published — the replay drops it and redoes
    the batch from scratch, landing exactly once."""
    from airflow_postgres_csv_spark.streaming.sinks import wap_batch

    root = str(tmp_path / "t")
    audits = {"ok": "count(*) > 0"}
    assert wap_batch(_df(spark, 0, 10).coalesce(1), 0, root, audits) == "published"
    # simulate a crashed attempt of batch 1: branch staged, publish never ran
    broot = snapshot_branch(root, "wap-1")
    snapshot_commit(_df(spark, 500, 505).coalesce(1), broot)  # stale payload
    assert wap_batch(_df(spark, 10, 20).coalesce(1), 1, root, audits) == "published"
    got = sorted(r[0] for r in snapshot_read(spark, root).select("id").collect())
    assert got == list(range(20))  # stale 500s gone, batch 1 exactly once
    assert snapshot_branches(root) == {}
    # replay of a published batch is a no-op
    assert wap_batch(_df(spark, 10, 20).coalesce(1), 1, root, audits) == "skipped"
    assert snapshot_versions(root) == [1, 2]


def test_branch_publish_carries_rename_lineage(spark, tmp_path):
    """An ALTER RENAME staged on a branch (plus an append under the new
    name) publishes fast-forward with the name lineage intact: main
    reads pre-rename files under the new name, no null-fill."""
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_alter

    root = str(tmp_path / "t")
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)
    broot = snapshot_branch(root, "schema-work")
    snapshot_alter(broot, rename={"v": "w"})
    snapshot_commit(
        spark.range(10, 20).select("id", (F.col("id") * 2).alias("w")).coalesce(1),
        broot,
    )
    m = snapshot_publish_branch(root, "schema-work")
    assert m["column_history"] == {"w": ["v"]}
    df = snapshot_read(spark, root)
    assert df.columns == ["id", "w"]
    assert sorted(tuple(r) for r in df.collect()) == [
        (i, 2 * i) for i in range(20)
    ]


def test_publish_carries_index_model_metadata(spark, tmp_path):
    """A branch of a persisted ANN index (streaming WAP staging shape)
    must keep serving on main after the fast-forward publish — the
    frozen model metadata rides the carried keys (snapshots._KEYS)."""
    from airflow_postgres_csv_spark.operators import similarity as SIM

    emb = spark.range(0, 100).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda i: F.sin(F.col("id") * i * 0.7 + i).cast("float"),
        ).alias("embedding"),
    )
    root = str(tmp_path / "ivf")
    SIM.ivfpq_build_index(emb.where("vec_id < 80"), root, n_cells=8, m=None)
    broot = snapshot_branch(root, "ingest")
    SIM.ivfpq_index_append(emb.where("vec_id >= 80"), broot)
    m = snapshot_publish_branch(root, "ingest")
    assert m["ann_index"]["kind"] == "ivf"
    out = SIM.ivfpq_search_index(
        spark, root, emb.filter("vec_id < 3"), k=3, n_probe=8
    )
    assert out.count() == 9


def test_branch_publish_carries_sorted_stamps(spark, tmp_path):
    """A commit staged on a branch under the table's declared sort order
    keeps its sorted-layout stamp through the fast-forward publish —
    dropping it would make the advisor report phantom sort debt."""
    from airflow_postgres_csv_spark.operators.branches import _branch_root
    from airflow_postgres_csv_spark.operators.maintenance import (
        snapshot_table_stats,
    )

    root = str(tmp_path / "t")
    snapshot_commit(
        spark.range(0, 100).select("id", (F.col("id") % 9).alias("v")),
        root, sort_order=["v"],
    )
    snapshot_branch(root, "exp")
    broot = _branch_root(root, "exp")
    snapshot_commit(
        spark.range(100, 200).select("id", (F.col("id") % 9).alias("v")),
        broot,
    )
    snapshot_publish_branch(root, "exp")
    st = snapshot_table_stats(root)
    assert st["sort_order"] == ["v"] and st["sorted_coverage"] == 1.0
