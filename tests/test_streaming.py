"""Structured Streaming tests: every streaming operator driven end-to-end
with file-source micro-batches and a memory sink, checked against its
oracle-verified batch twin; plus watermark late-data semantics and the
custom stateful operator.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from airflow_postgres_csv_spark.catalog import load
from airflow_postgres_csv_spark.streaming import stateful, windows as SW

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events_stream_dir(spark, tmp_path):
    """Split the events fixture into 3 parquet files → 3 micro-batches
    (maxFilesPerTrigger=1), ordered by time so watermarks advance."""
    out = str(tmp_path / "events_stream")
    ev = load(spark, SF, "events").orderBy("ts")
    n = ev.count()
    rows = ev.collect()
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        chunk = spark.createDataFrame(rows[cuts[i]:cuts[i + 1]], ev.schema)
        # write ts back as raw nanos longs to mimic the source contract;
        # one file per chunk -> one micro-batch per chunk
        chunk.withColumn("ts", F.unix_micros("ts") * 1000).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"chunk_{i}"))
    # flatten: move part files into one dir so the stream sees 3+ files
    final = str(tmp_path / "stream_in")
    os.makedirs(final)
    k = 0
    for i in range(3):
        d = os.path.join(out, f"chunk_{i}")
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(d, f), os.path.join(final, f"{k:03d}.parquet"))
                k += 1
    return final


def _batch_tumbling(spark):
    return (
        load(spark, SF, "events")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_timestamp("w.start").alias("window_start_s"), "event_type", "n")
    )


@pytest.mark.slow
def test_tumbling_stream_matches_batch(spark, events_stream_dir):
    ev = SW.stream_events(spark, events_stream_dir)
    q = SW.run_to_memory_sink(SW.tumbling_counts(ev, watermark="10 minutes"), "t_tumble")
    try:
        got = {
            (r.window_start_s, r.event_type): r.n
            for r in spark.sql("SELECT * FROM t_tumble").collect()
        }
        expected = {
            (r.window_start_s, r.event_type): r.n for r in _batch_tumbling(spark).collect()
        }
        # append mode emits only windows finalized by the watermark; all
        # emitted windows must match the batch result exactly
        assert got, "stream produced no finalized windows"
        for k, v in got.items():
            assert expected[k] == v, k
    finally:
        q.stop()


@pytest.mark.slow
def test_session_stream_emits_finalized_sessions(spark, events_stream_dir):
    ev = SW.stream_events(spark, events_stream_dir)
    q = SW.run_to_memory_sink(SW.session_counts(ev, gap="5 minutes", watermark="5 minutes"), "t_sess")
    try:
        rows = spark.sql("SELECT * FROM t_sess").collect()
        assert rows, "no sessions finalized"
        for r in rows:
            assert r.session_end_us - r.session_start_us >= 5 * 60 * 1_000_000
            assert r.n_events >= 1
    finally:
        q.stop()


@pytest.mark.slow
def test_dedup_within_watermark(spark, tmp_path):
    """Duplicates inside the watermark horizon are dropped; the same key
    recurring far outside the horizon is legitimately emitted again."""
    d = str(tmp_path / "dedup_in")
    os.makedirs(d)
    base_us = 1_700_000_000_000_000

    def write_chunk(idx, rows):
        pdf = spark.createDataFrame(
            [(i, (base_us + off_s * 1_000_000) * 1000, uid, et, 1.0, "{}")
             for i, off_s, uid, et in rows],
            "event_id long, ts long, user_id long, event_type string, value double, props string",
        )
        pdf.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"dc_{idx}"))
        src = str(tmp_path / f"dc_{idx}")
        for f in sorted(os.listdir(src)):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(src, f), os.path.join(d, f"{idx:03d}.parquet"))

    # batch 0: user 1 fires 'click' three times within 10 min (dups) and
    # user 2 fires once
    write_chunk(0, [(1, 0, 1, "click"), (2, 300, 1, "click"), (3, 600, 1, "click"),
                    (4, 0, 2, "view")])
    # batch 1: unrelated event at t=6000s advances the watermark to
    # 6000-1800=4200s, past the (1, click) state's expiry (last dup at
    # t=600 + 30 min delay = 2400s)
    write_chunk(1, [(6, 6000, 3, "ping")])
    # batch 2: filler — state eviction runs at end-of-batch commit, so a
    # batch must complete under the advanced watermark before the expired
    # (1, click) entry is actually removed from the store
    write_chunk(2, [(7, 6100, 4, "other")])
    # batch 3: user 1 'click' again at t=7200s — old state evicted, so
    # this is emitted as a fresh event
    write_chunk(3, [(5, 7200, 1, "click")])
    ev = SW.stream_events(spark, d)
    q = SW.run_to_memory_sink(
        SW.dedup_within_watermark(ev, keys=["user_id", "event_type"], watermark="30 minutes"),
        "t_dedup",
    )
    try:
        got = sorted(
            (r.user_id, r.event_type, r.event_id)
            for r in spark.sql("SELECT user_id, event_type, event_id FROM t_dedup").collect()
        )
        assert got == [
            (1, "click", 1),
            (1, "click", 5),
            (2, "view", 4),
            (3, "ping", 6),
            (4, "other", 7),
        ]
    finally:
        q.stop()


@pytest.mark.slow
def test_late_data_dropped_by_watermark(spark, tmp_path):
    """An event older than (max ts - watermark) arriving in a later batch
    must not resurrect or alter an already-finalized window."""
    d = str(tmp_path / "late_in")
    os.makedirs(d)
    base_us = 1_700_000_000_000_000  # arbitrary fixed instant

    def write_chunk(idx, rows):
        pdf = spark.createDataFrame(
            [(i, (base_us + off_s * 1_000_000) * 1000, 1, "t", 1.0, "{}") for i, off_s in rows],
            "event_id long, ts long, user_id long, event_type string, value double, props string",
        )
        pdf.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"lc_{idx}"))
        src = str(tmp_path / f"lc_{idx}")
        for f in sorted(os.listdir(src)):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(src, f), os.path.join(d, f"{idx:03d}.parquet"))

    # batch 0: events at t=0s and t=4000s (watermark 10 min → horizon 3400s)
    write_chunk(0, [(1, 0), (2, 4000)])
    ev = SW.stream_events(spark, d)
    agg = SW.tumbling_counts(ev, width="10 minutes", watermark="10 minutes")
    q = agg.writeStream.outputMode("append").format("memory").queryName("t_late").start()
    try:
        q.processAllAvailable()
        first = {r.window_start_s: r.n for r in spark.sql("SELECT * FROM t_late").collect()}
        assert first, "window at t=0 should be finalized by the 4000s event"
        # batch 1: a late event inside the already-finalized first window
        write_chunk(1, [(3, 30)])
        q.processAllAvailable()
        after = {r.window_start_s: r.n for r in spark.sql("SELECT * FROM t_late").collect()}
        assert after == first  # late row dropped, no re-emit
    finally:
        q.stop()


@pytest.mark.slow
def test_stateful_user_profiles(spark, events_stream_dir):
    ev = SW.stream_events(spark, events_stream_dir)
    q = SW.run_to_memory_sink(stateful.user_profiles(ev), "t_prof", output_mode="update")
    try:
        # last emitted row per user == the batch per-user totals
        got = spark.sql(
            """
            SELECT user_id, n_events, total_value FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
              FROM t_prof
            ) WHERE rn = 1
            """
        ).collect()
        batch = (
            load(spark, SF, "events")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"))
            .collect()
        )
        expected = {r.user_id: (r.n, r.tv) for r in batch}
        assert got
        for r in got:
            n, tv = expected[r.user_id]
            assert r.n_events == n
            assert abs(r.total_value - tv) < 1e-6
    finally:
        q.stop()


def test_parquet_sink_exactly_once_across_restart(spark, tmp_path):
    """Stop a checkpointed file-sink query mid-stream, add data, restart
    with the same checkpoint: every input row appears exactly once."""
    from airflow_postgres_csv_spark.streaming import sinks

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    base_us = 1_700_000_000_000_000

    def add_file(idx, ids):
        pdf = spark.createDataFrame(
            [(i, (base_us + i * 1_000_000) * 1000, 1, "t", 1.0, "{}") for i in ids],
            "event_id long, ts long, user_id long, event_type string, value double, props string",
        )
        d = str(tmp_path / f"pc_{idx}")
        pdf.coalesce(1).write.mode("overwrite").parquet(d)
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(d, f), os.path.join(src, f"{idx:03d}.parquet"))

    add_file(0, [1, 2, 3])
    ev = SW.stream_events(spark, src)
    q = sinks.start_parquet_sink(ev.select("event_id", "user_id"), out, ckpt)
    q.processAllAvailable()
    q.stop()

    add_file(1, [4, 5])
    ev2 = SW.stream_events(spark, src)
    q2 = sinks.start_parquet_sink(ev2.select("event_id", "user_id"), out, ckpt)
    q2.processAllAvailable()
    q2.stop()

    got = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3, 4, 5]


def test_jdbc_upsert_sink_exactly_once(spark, events_stream_dir, tmp_path):
    """Streaming → foreachBatch keyed MERGE into a real JDBC table
    (embedded Derby): after all micro-batches, the table holds exactly the
    distinct event keys; replaying the whole stream from scratch (fresh
    checkpoint, same sink table) changes nothing — the keyed merge is
    idempotent, which is what turns at-least-once replay into effective
    exactly-once."""
    from airflow_postgres_csv_spark.operators import jdbc
    from airflow_postgres_csv_spark.streaming import sinks

    derby = f"jdbc:derby:{tmp_path}/upsertdb;create=true"
    DERBY = "org.apache.derby.jdbc.EmbeddedDriver"

    def run(checkpoint: str):
        ev = SW.stream_events(spark, events_stream_dir).select(
            "event_id", "user_id", "event_type", "value"
        )
        q = sinks.start_batch_sink(
            ev,
            lambda df, _bid: sinks.jdbc_upsert_batch(
                df, url=derby, table="ev_upsert", key_cols=["event_id"],
                driver=DERBY,
            ),
            str(tmp_path / checkpoint),
        )
        q.processAllAvailable()
        q.stop()

    run("ckpt1")
    back = jdbc.jdbc_read(spark, url=derby, table="ev_upsert", driver=DERBY)
    n_events = load(spark, SF, "events").select("event_id").distinct().count()
    assert back.count() == n_events

    run("ckpt2")  # full replay, fresh checkpoint -> merge no-ops
    back2 = jdbc.jdbc_read(spark, url=derby, table="ev_upsert", driver=DERBY)
    assert back2.count() == n_events


@pytest.mark.slow
def test_outer_join_null_rows_emit_on_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream join: matched pairs emit as they form;
    unmatched purchases emit NULL-padded only after the watermark passes
    them — driven here by control rows that must ride THROUGH the branch
    filters (Catalyst pushes filters below withWatermark, so a filtered
    sentinel would never advance the watermark and outer state would
    leak forever)."""
    d = str(tmp_path / "outer_in")
    os.makedirs(d)
    base_us = 1_700_000_000_000_000

    def write_chunk(idx, rows):
        pdf = spark.createDataFrame(
            [(i, (base_us + off_s * 1_000_000) * 1000, uid, et, 1.0, "{}")
             for i, off_s, uid, et in rows],
            "event_id long, ts long, user_id long, event_type string, value double, props string",
        )
        pdf.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"oj_{idx}"))
        src = str(tmp_path / f"oj_{idx}")
        for f in sorted(os.listdir(src)):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(src, f), os.path.join(d, f"{idx:03d}.parquet"))

    # user 1: click then purchase inside the 10-min window (match);
    # user 2: purchase with no click (NULL row after eviction);
    # user 3: click 20 min before purchase — outside window (NULL row).
    write_chunk(0, [(10, 0, 1, "click"), (11, 300, 1, "purchase"),
                    (12, 300, 2, "purchase"),
                    (13, 0, 3, "click"), (14, 1500, 3, "purchase")])
    # control rows with reserved ids advance the watermark; the second
    # batch triggers the eviction pass under the first one's watermark
    write_chunk(1, [(-1, 100_000, -1, "_sentinel")])
    write_chunk(2, [(-2, 110_000, -2, "_sentinel")])
    ev = SW.stream_events(spark, d)
    q = SW.run_to_memory_sink(
        SW.stream_stream_attribution_outer(ev, window_minutes=10),
        "t_outer_join",
        output_mode="append",
    )
    try:
        got = sorted(
            (r.purchase_id, r.click_id)
            for r in spark.table("t_outer_join").collect()
        )
        assert got == [(11, 10), (12, None), (14, None)]
    finally:
        q.stop()


def test_rocksdb_state_store_matches_default(spark, events_stream_dir):
    """At 100 TB state (sessions over billions of keys) the in-memory
    HDFS-backed state store is the OOM; RocksDB spills state to local disk.
    Certify the engine's stateful operators run unchanged — and produce
    identical results — under the RocksDB provider."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    try:
        spark.conf.set(key, rocks)
        ev = SW.stream_events(spark, events_stream_dir)
        q = SW.run_to_memory_sink(
            SW.tumbling_counts(ev, watermark="10 minutes"), "t_rocks"
        )
        try:
            got = {
                (r.window_start_s, r.event_type): r.n
                for r in spark.sql("SELECT * FROM t_rocks").collect()
            }
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    expected = {
        (r.window_start_s, r.event_type): r.n for r in _batch_tumbling(spark).collect()
    }
    assert got, "stream produced no finalized windows under RocksDB"
    for k, v in got.items():
        assert expected[k] == v, k


def test_merge_into_batch_exactly_once_and_replay(spark, tmp_path):
    """merge_into_batch: first batch on an empty root commits the
    (prepared) source; later batches MERGE with clauses; a replayed
    batch id is dropped by the high-water gate even when the batch's
    merge was a no-op (the stamp rides the no-op publish too)."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_read,
        snapshot_versions,
    )
    from airflow_postgres_csv_spark.streaming.sinks import merge_into_batch

    root = str(tmp_path / "t")
    b0 = spark.createDataFrame([(1, 10), (2, 20)], "id long, v long")
    b1 = spark.createDataFrame([(2, 5), (3, 30)], "id long, v long")
    upd = {"v": "t.v + s.v"}
    assert merge_into_batch(b0, 0, root, key="id", matched_update=upd)
    assert merge_into_batch(b1, 1, root, key="id", matched_update=upd)
    got = {r.id: r.v for r in snapshot_read(spark, root).collect()}
    assert got == {1: 10, 2: 25, 3: 30}
    # replay of either batch: no-op, no new version
    n = snapshot_versions(root)[-1]
    assert merge_into_batch(b1, 1, root, key="id", matched_update=upd) is False
    assert merge_into_batch(b0, 0, root, key="id", matched_update=upd) is False
    assert snapshot_versions(root)[-1] == n
    # a batch whose merge no-ops still advances the gate (stamp rides the
    # metadata-only publish) — its replay is dropped too
    empty = spark.createDataFrame([], "id long, v long")
    assert merge_into_batch(empty, 2, root, key="id", matched_update=upd)
    assert merge_into_batch(empty, 2, root, key="id", matched_update=upd) is False
    assert {r.id: r.v for r in snapshot_read(spark, root).collect()} == got
    # the caller's per-batch pre-aggregation makes the source keyed
    raw = spark.createDataFrame(
        [(1, 1), (1, 2), (4, 4)], "id long, v long"
    )
    assert merge_into_batch(
        raw.groupBy("id").agg(F.sum("v").alias("v")), 3, root, key="id",
        matched_update=upd,
    )
    got = {r.id: r.v for r in snapshot_read(spark, root).collect()}
    assert got == {1: 13, 2: 25, 3: 30, 4: 4}
