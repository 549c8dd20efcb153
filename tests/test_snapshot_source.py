"""snapshot_feed streaming source (streaming/snapshot_source.py): version
offsets, exactly-once restart, non-append failure modes, schema evolution."""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_postgres_csv_spark.operators.snapshots import (
    snapshot_commit,
    snapshot_compact,
    snapshot_delete_mor,
)
from airflow_postgres_csv_spark.streaming.snapshot_source import (
    register_snapshot_feed,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id"), (F.col("id") * 2).alias("v"))


def _pump(spark, root, ckpt, out, **options):
    reader = spark.readStream.format("snapshot_feed").option("root", root)
    for k, v in options.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(out)


def test_incremental_exactly_once_across_restarts(spark, tmp_path):
    """Each commit's rows are delivered once with their commit version; a
    checkpointed restart reads only versions committed since, and a replay
    with no new commits appends nothing."""
    root, ckpt, out = (str(tmp_path / d) for d in ("snap", "ckpt", "out"))
    register_snapshot_feed(spark)
    snapshot_commit(_df(spark, 0, 10), root)
    snapshot_commit(_df(spark, 10, 15), root)
    r = _pump(spark, root, ckpt, out)
    assert r.count() == 15
    versions = dict(
        (row["_commit_version"], row["n"])
        for row in r.groupBy("_commit_version").agg(F.count("*").alias("n")).collect()
    )
    assert versions == {1: 10, 2: 5}
    # new commit -> restart picks up exactly the delta
    snapshot_commit(_df(spark, 15, 18), root)
    r = _pump(spark, root, ckpt, out)
    assert r.count() == 18
    assert r.select("id").distinct().count() == 18
    # replay with nothing new -> no duplicates
    r = _pump(spark, root, ckpt, out)
    assert r.count() == 18
    assert sorted(x["id"] for x in r.collect()) == list(range(18))


def test_non_append_commits_fail_loudly(spark, tmp_path):
    """A MOR delete (tombstone change) fails the stream unless
    ignoreDeletes=true; a COMPACTION is verified row-preserving via its
    stamped lineage and skipped in every mode; a destructive overwrite
    (or a compaction whose stamp is stale) still fails — the file delta
    is not a row delta."""
    import pytest

    root, ckpt, out = (str(tmp_path / d) for d in ("snap", "ckpt", "out"))
    register_snapshot_feed(spark)
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)
    _pump(spark, root, ckpt, out)
    snapshot_delete_mor(spark, root, "id = 3", key_col="id")
    with pytest.raises(Exception, match="delete"):
        _pump(spark, root, ckpt, out)
    r = _pump(spark, root, ckpt, out, ignoreDeletes="true")
    assert r.count() == 10  # delete commit skipped, no new data files
    snapshot_commit(_df(spark, 10, 12).coalesce(1), root)
    assert _pump(spark, root, ckpt, out, ignoreDeletes="true").count() == 12
    # routine maintenance doesn't break the stream: compaction skipped,
    # the append after it delivered
    snapshot_compact(spark, root)
    snapshot_commit(_df(spark, 12, 14).coalesce(1), root)
    assert _pump(spark, root, ckpt, out, ignoreDeletes="true").count() == 14
    # a real overwrite still fails loudly
    snapshot_commit(_df(spark, 0, 3).coalesce(1), root, mode="overwrite")
    with pytest.raises(Exception, match="rewrote"):
        _pump(spark, root, ckpt, out, ignoreDeletes="true")


def test_schema_evolution_and_starting_version(spark, tmp_path):
    """Files written under an older commit schema are default-filled to the
    stream's (latest-manifest) schema in Arrow; startingVersion anchors
    past history."""
    root, ckpt, out = (str(tmp_path / d) for d in ("snap", "ckpt", "out"))
    register_snapshot_feed(spark)
    snapshot_commit(_df(spark, 0, 5).coalesce(1), root)
    snapshot_commit(
        _df(spark, 5, 8).withColumn("w", F.lit(7).cast("long")).coalesce(1),
        root,
        allow_schema_change=True,
        column_defaults={"w": 0},
    )
    r = _pump(spark, root, ckpt, out)
    got = sorted((x["id"], x["w"]) for x in r.collect())
    assert got == [(i, 0) for i in range(5)] + [(i, 7) for i in range(5, 8)]
    # startingVersion=1 skips the first commit entirely
    ckpt2, out2 = str(tmp_path / "ckpt2"), str(tmp_path / "out2")
    r = _pump(spark, root, ckpt2, out2, startingVersion="1")
    assert sorted(x["id"] for x in r.collect()) == [5, 6, 7]


def test_change_feed_emits_delete_preimages(spark, tmp_path):
    """changeFeed=true: inserts carry _change_type='insert'; an equality
    MOR delete emits its pre-image rows as 'delete'; a later positional
    delete excludes rows an older tombstone already removed."""
    import uuid as _uuid

    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_delete_positional,
    )

    root = str(tmp_path / "snap")
    register_snapshot_feed(spark)
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)
    snapshot_commit(_df(spark, 10, 20).coalesce(1), root)
    snapshot_delete_mor(spark, root, "id % 5 = 0", key_col="id")  # 0,5,10,15
    snapshot_delete_positional(spark, root, "id = 7 OR id = 10")  # 10 gone already
    name = f"cdf_{_uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("snapshot_feed")
        .option("root", root)
        .option("changeFeed", "true")
        .load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table(name).collect()
    ins = sorted(r["id"] for r in rows if r["_change_type"] == "insert")
    d3 = sorted(
        r["id"] for r in rows
        if r["_change_type"] == "delete" and r["_commit_version"] == 3
    )
    d4 = sorted(
        r["id"] for r in rows
        if r["_change_type"] == "delete" and r["_commit_version"] == 4
    )
    assert ins == list(range(20))
    assert d3 == [0, 5, 10, 15]
    assert d4 == [7]  # 10 excluded: pre-image respects the older tombstone
    # delete rows carry the full pre-image payload, not just the key
    v_of = {
        (r["id"], r["_commit_version"]): r["v"]
        for r in rows
        if r["_change_type"] == "delete"
    }
    assert v_of[(7, 4)] == 14 and v_of[(15, 3)] == 30


def test_apply_changes_sink_mirrors_source_across_restarts(spark, tmp_path):
    """Streaming APPLY CHANGES INTO: a CDF stream applied into a keyed
    downstream snapshot mirrors the source's live state — across a
    checkpointed restart that delivers a delete-only increment — and
    direct replays / mid-batch crash replays converge."""
    from airflow_postgres_csv_spark.operators import snapshots as S
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_read
    from airflow_postgres_csv_spark.streaming.sinks import (
        apply_changes_batch,
        start_batch_sink,
    )

    root, dst, ckpt = (str(tmp_path / d) for d in ("src", "dst", "ckpt"))
    register_snapshot_feed(spark)
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)
    snapshot_commit(_df(spark, 10, 20).coalesce(1), root)

    def mirror():
        stream = (
            spark.readStream.format("snapshot_feed")
            .option("root", root)
            .option("changeFeed", "true")
            .load()
        )
        q = start_batch_sink(
            stream, lambda df, bid: apply_changes_batch(df, bid, dst, "id"), ckpt
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    mirror()
    assert sorted(r.id for r in snapshot_read(spark, dst).collect()) == list(range(20))
    # restart: source gains a MOR delete; the mirror applies just the delta
    snapshot_delete_mor(spark, root, "id % 5 = 0", key_col="id")
    mirror()
    live = sorted(r.id for r in snapshot_read(spark, dst).collect())
    assert live == [i for i in range(20) if i % 5 != 0]
    # replay of an already-applied batch id is a no-op
    batch = snapshot_read(spark, root).select(
        "id", "v",
        F.lit(99).cast("long").alias("_commit_version"),
        F.lit("insert").alias("_change_type"),
    )
    applied_versions = S.snapshot_versions(dst)
    last = max(
        S._load_manifest(dst, v).get("last_batch_id", -1)
        for v in applied_versions
    )
    assert apply_changes_batch(batch, last, dst, "id") is False
    assert S.snapshot_versions(dst) == applied_versions
    # mid-batch crash window: the merge half of a batch landed without the
    # stamp (tombstone half lost); replaying the WHOLE batch converges
    crash_batch = spark.createDataFrame(
        [(100, 0, 200, "insert"), (1, 2, 201, "delete")],
        "id long, v long, _commit_version long, _change_type string",
    )
    S.snapshot_merge(
        spark, dst, crash_batch.where("id = 100").select("id", "v"), "id"
    )  # crashed before the delete + stamp
    assert apply_changes_batch(crash_batch, last + 1, dst, "id") is True
    live = sorted(r.id for r in snapshot_read(spark, dst).collect())
    assert live == [i for i in range(20) if i % 5 != 0 and i != 1] + [100]
    assert apply_changes_batch(crash_batch, last + 1, dst, "id") is False


def test_change_feed_streams_merge_as_update_pair(spark, tmp_path):
    """changeFeed=true on a COW MERGE: replaced files emit delete
    pre-images and rewritten files emit insert post-images, both
    restricted to the merged keys — carried-over rows are not re-emitted,
    a previously tombstoned key re-upserted has no delete half, and the
    pre-image carries the OLD row payload."""
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_merge

    root = str(tmp_path / "snap")
    register_snapshot_feed(spark)
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)          # v1
    snapshot_delete_mor(spark, root, "id = 5", key_col="id")      # v2
    updates = spark.createDataFrame(
        [(3, 333), (5, 555), (100, 1000)], "id long, v long"
    )
    snapshot_merge(spark, root, updates, "id")                    # v3
    import uuid as _uuid

    name = f"cdfmerge_{_uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("snapshot_feed")
        .option("root", root)
        .option("changeFeed", "true")
        .load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table(name).collect()
    by = lambda v, c: sorted(
        r["id"] for r in rows
        if r["_commit_version"] == v and r["_change_type"] == c
    )
    assert by(1, "insert") == list(range(10))
    assert by(2, "delete") == [5]
    # merge: delete pre-image only for key 3 (5 was already tombstoned,
    # 100 never existed); insert post-image for all three merged keys
    assert by(3, "delete") == [3]
    assert by(3, "insert") == [3, 5, 100]
    # pre-image carries the OLD payload, post-image the new
    vals = {
        (r["id"], r["_commit_version"], r["_change_type"]): r["v"] for r in rows
    }
    assert vals[(3, 3, "delete")] == 6 and vals[(3, 3, "insert")] == 333
    assert vals[(5, 3, "insert")] == 555 and vals[(100, 3, "insert")] == 1000
    # carried rows (0,1,2,4,6..9) appear exactly once (their v1 insert)
    from collections import Counter

    per_id = Counter(r["id"] for r in rows)
    for i in (0, 1, 2, 4, 6, 7, 8, 9):
        assert per_id[i] == 1


def test_apply_changes_sink_applies_merge_commits(spark, tmp_path):
    """The streaming mirror follows a source COW MERGE: updated keys get
    the post-image, inserted keys appear, carried rows are untouched."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_merge,
        snapshot_read,
    )
    from airflow_postgres_csv_spark.streaming.sinks import (
        apply_changes_batch,
        start_batch_sink,
    )

    root, dst, ckpt = (str(tmp_path / d) for d in ("src", "dst", "ckpt"))
    register_snapshot_feed(spark)
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)

    def mirror():
        stream = (
            spark.readStream.format("snapshot_feed")
            .option("root", root)
            .option("changeFeed", "true")
            .load()
        )
        q = start_batch_sink(
            stream, lambda df, bid: apply_changes_batch(df, bid, dst, "id"), ckpt
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    mirror()
    updates = spark.createDataFrame([(3, 333), (100, 1000)], "id long, v long")
    snapshot_merge(spark, root, updates, "id")
    mirror()
    src_live = sorted(
        (r["id"], r["v"]) for r in snapshot_read(spark, root).collect()
    )
    dst_live = sorted(
        (r["id"], r["v"]) for r in snapshot_read(spark, dst).collect()
    )
    assert dst_live == src_live
    assert (3, 333) in dst_live and (100, 1000) in dst_live


def test_change_feed_skips_compaction_with_folded_tombstones(spark, tmp_path):
    """A compaction folds tombstones into rewritten files and drops them
    from the manifest; the change feed verifies the stamped lineage and
    emits NOTHING for it — no re-inserts of compacted rows, no replay of
    the folded (narrowed-away) tombstones."""
    import uuid as _uuid

    root = str(tmp_path / "snap")
    register_snapshot_feed(spark)
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)          # v1
    snapshot_delete_mor(spark, root, "id % 2 = 0", key_col="id")  # v2
    snapshot_compact(spark, root)                                 # v3
    snapshot_commit(_df(spark, 10, 12).coalesce(1), root)         # v4
    name = f"cdfcompact_{_uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("snapshot_feed")
        .option("root", root)
        .option("changeFeed", "true")
        .load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table(name).collect()
    assert sorted(set(r["_commit_version"] for r in rows)) == [1, 2, 4]
    assert sorted(
        r["id"] for r in rows if r["_change_type"] == "delete"
    ) == [0, 2, 4, 6, 8]
    assert sorted(
        r["id"] for r in rows if r["_change_type"] == "insert"
    ) == list(range(12))


def test_change_feed_streams_cow_range_delete(spark, tmp_path):
    """changeFeed=true on a COW range delete: replaced files emit their
    in-range rows as delete pre-images (minus rows an older tombstone
    already removed); the rewritten carried-row files emit nothing."""
    import uuid as _uuid

    from airflow_postgres_csv_spark.operators.snapshots import snapshot_delete

    root = str(tmp_path / "snap")
    register_snapshot_feed(spark)
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)          # v1
    snapshot_delete_mor(spark, root, "id = 4", key_col="id")      # v2
    snapshot_delete(spark, root, "id", 3, 6)                      # v3: 3,5,6 (4 gone)
    name = f"cdfrange_{_uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("snapshot_feed")
        .option("root", root)
        .option("changeFeed", "true")
        .load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table(name).collect()
    d = {
        v: sorted(
            r["id"] for r in rows
            if r["_change_type"] == "delete" and r["_commit_version"] == v
        )
        for v in (2, 3)
    }
    assert sorted(r["id"] for r in rows if r["_change_type"] == "insert") == list(range(10))
    assert d[2] == [4]
    assert d[3] == [3, 5, 6]  # 4 excluded: already tombstoned
    # and the carried rows (0,1,2,7,8,9) were not re-emitted at v3
    from collections import Counter

    per = Counter((r["id"], r["_commit_version"]) for r in rows)
    for i in (0, 1, 2, 7, 8, 9):
        assert per[(i, 3)] == 0


def test_starting_timestamp_anchor(spark, tmp_path):
    """startingTimestamp anchors the stream at the newest version
    committed at or before the instant — that version's rows are the
    first delivered; both anchors together are rejected."""
    import pytest

    from airflow_postgres_csv_spark.operators.snapshots import snapshot_history

    root, ckpt, out = (str(tmp_path / d) for d in ("snap", "ckpt", "out"))
    register_snapshot_feed(spark)
    snapshot_commit(_df(spark, 0, 5).coalesce(1), root)
    snapshot_commit(_df(spark, 5, 8).coalesce(1), root)
    snapshot_commit(_df(spark, 8, 12).coalesce(1), root)
    ts2 = {h["version"]: h["committed_at"] for h in snapshot_history(root)}[2]
    r = _pump(spark, root, ckpt, out, startingTimestamp=str(ts2))
    assert sorted(x["id"] for x in r.collect()) == list(range(5, 12))
    with pytest.raises(Exception, match="not both"):
        _pump(
            spark, root, str(tmp_path / "c2"), str(tmp_path / "o2"),
            startingTimestamp=str(ts2), startingVersion="1",
        )
    # an instant before the first retained commit anchors at the start
    r = _pump(
        spark, root, str(tmp_path / "c3"), str(tmp_path / "o3"),
        startingTimestamp="1",
    )
    assert r.count() == 12


def test_table_changes_equals_streaming_change_feed(spark, tmp_path):
    """The batch CDF (snapshot_table_changes) and the streaming CDF
    (changeFeed=true) must produce the SAME multiset of change rows over
    a history exercising every commit kind: appends, equality +
    positional MOR deletes, a COW merge, a compaction, a COW range
    delete."""
    import uuid as _uuid

    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_delete,
        snapshot_delete_positional,
        snapshot_merge,
        snapshot_table_changes,
    )

    root = str(tmp_path / "snap")
    register_snapshot_feed(spark)
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)           # v1
    snapshot_commit(_df(spark, 10, 20).coalesce(1), root)          # v2
    snapshot_delete_mor(spark, root, "id % 5 = 0", key_col="id")   # v3
    snapshot_delete_positional(spark, root, "id = 7")              # v4
    updates = spark.createDataFrame([(3, 333), (50, 500)], "id long, v long")
    snapshot_merge(spark, root, updates, "id")                     # v5
    snapshot_compact(spark, root)                                  # v6
    snapshot_delete(spark, root, "id", 11, 13)                     # v7

    batch = sorted(
        tuple(r) for r in snapshot_table_changes(spark, root).collect()
    )
    name = f"cdfeq_{_uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("snapshot_feed")
        .option("root", root)
        .option("changeFeed", "true")
        .load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stream = sorted(tuple(r) for r in spark.table(name).collect())
    assert batch == stream
    assert len(batch) > 25  # non-trivial history actually streamed
    # and an anchored slice equals the stream from that version
    sliced = sorted(
        tuple(r)
        for r in snapshot_table_changes(spark, root, from_version=4).collect()
    )
    assert sliced == [t for t in batch if t[2] > 4]


def test_undelete_rollback_fails_stream(spark, tmp_path):
    """A tombstone-only rollback (un-delete) fails the stream in every
    mode — resurrected rows have no row-delta story."""
    import pytest

    from airflow_postgres_csv_spark.operators.snapshots import snapshot_rollback

    root, ckpt, out = (str(tmp_path / d) for d in ("snap", "ckpt", "out"))
    register_snapshot_feed(spark)
    snapshot_commit(_df(spark, 0, 10).coalesce(1), root)
    _pump(spark, root, ckpt, out)
    snapshot_delete_mor(spark, root, "id = 3", key_col="id")
    snapshot_rollback(spark, root, 1)
    for i, opts in enumerate(
        ({}, {"ignoreDeletes": "true"}, {"changeFeed": "true"})
    ):
        with pytest.raises(Exception, match="un-delete"):
            _pump(
                spark, root,
                str(tmp_path / f"c{i}"), str(tmp_path / f"o{i}"),
                startingVersion="2",  # only the rollback is in range
                **opts,
            )
