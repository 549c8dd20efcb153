"""Streaming index-maintenance sinks (streaming/sinks.py::
text_index_batch / ann_index_batch): exactly-once batch gating, build-
then-append lifecycle, and bit-identical live-vs-batch semantics at the
unit level (the end-to-end checkpointed-restart runs live in the
streaming_text_index_live / streaming_ann_index_live oracle queries)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_postgres_csv_spark.operators import snapshots as S
from airflow_postgres_csv_spark.operators.text_index import (
    text_index_search,
)
from airflow_postgres_csv_spark.streaming.sinks import (
    ann_index_batch,
    text_index_batch,
)

_DOCS = [
    (0, "spark shuffles data across the cluster"),
    (1, "the cluster shuffles spark data"),
    (2, "parquet files store columnar data"),
    (3, "columnar data scans prune columns"),
    (4, "spark reads parquet data fast"),
    (5, "indexes make search fast"),
]


def _docs(spark, ids):
    return spark.createDataFrame(
        [d for d in _DOCS if d[0] in ids], ["doc_id", "text"]
    )


def test_text_index_batch_builds_then_appends_exactly_once(spark, tmp_path):
    root = str(tmp_path / "idx")
    assert text_index_batch(_docs(spark, {0, 1, 2}), 0, root) is True
    assert text_index_batch(_docs(spark, {3, 4, 5}), 1, root) is True
    # crash replay of either batch: dropped by the high-water gate
    assert text_index_batch(_docs(spark, {0, 1, 2}), 0, root) is False
    assert text_index_batch(_docs(spark, {3, 4, 5}), 1, root) is False
    meta = S._load_manifest(root, S.snapshot_versions(root)[-1])["text_index"]
    assert meta["n_docs"] == 6  # replays never double-count stats
    got = text_index_search(spark, root, ["spark", "data"], k=6)
    # full-corpus rebuild must score identically
    from airflow_postgres_csv_spark.operators.text_index import (
        text_index_build,
    )

    root2 = str(tmp_path / "ref")
    text_index_build(_docs(spark, {0, 1, 2, 3, 4, 5}), root2)
    ref = text_index_search(spark, root2, ["spark", "data"], k=6)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


@pytest.mark.parametrize(
    "shape",
    [{"n_cells": 4, "m": None}, {"n_cells": None, "m": 2, "n_codes": 4}],
    ids=["ivf", "pq"],
)
def test_ann_index_batch_requires_prebuilt_index(spark, tmp_path, shape):
    emb = spark.range(0, 40).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(4)),
            lambda i: F.sin(F.col("id") * i).cast("float"),
        ).alias("embedding"),
    )
    root = str(tmp_path / "ann")
    with pytest.raises(FileNotFoundError):
        ann_index_batch(emb, 0, root)
    from airflow_postgres_csv_spark.operators.similarity import ivfpq_build_index

    ivfpq_build_index(emb.where(F.col("vec_id") < 20), root, **shape)
    assert ann_index_batch(emb.where(F.col("vec_id") >= 20), 0, root) is True
    assert ann_index_batch(emb.where(F.col("vec_id") >= 20), 0, root) is False
    assert S.snapshot_read(spark, root).count() == 40


def test_dedup_ingest_batch_exactly_once_and_first_wins(spark, tmp_path):
    """Dedup-on-ingest: within-batch min-id survivors, cross-batch
    first-writer-wins via the persisted fingerprint table, and replayed
    batches (either table behind) converge without duplicates."""
    from airflow_postgres_csv_spark.streaming.sinks import dedup_ingest_batch

    root, keys = str(tmp_path / "corpus"), str(tmp_path / "keys")
    b0 = spark.createDataFrame(
        [(4, "alpha beta"), (2, "alpha beta"), (7, "gamma")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(9, "ALPHA   beta"), (11, "delta"), (13, "delta")],
        "doc_id long, text string",
    )
    assert dedup_ingest_batch(b0, 0, root, keys) is True
    import shutil

    keys2 = str(tmp_path / "keys2")  # keys state as of batch 0 — the
    shutil.copytree(keys, keys2)     # crash-between-commits replica
    assert dedup_ingest_batch(b1, 1, root, keys) is True
    got = {(r.doc_id, r.text) for r in S.snapshot_read(spark, root).collect()}
    # batch0: min-id 2 wins alpha-beta, 7 gamma; batch1: 9 rejected
    # (normalized == alpha beta), 11 wins delta within-batch over 13
    assert got == {(2, "alpha beta"), (7, "gamma"), (11, "delta")}
    assert S.snapshot_read(spark, keys).count() == 3
    # full replay: both gates closed, nothing changes
    assert dedup_ingest_batch(b1, 1, root, keys) is False
    assert S.snapshot_read(spark, root).count() == 3
    # partial replay — crash landed the DATA commit but not the KEYS
    # commit (keys2 froze at batch 0): the replay recomputes survivors
    # against the pre-batch keys state, skips the closed data gate, and
    # advances only the keys table to the identical key set
    assert dedup_ingest_batch(b1, 1, root, keys2) is True
    k2 = {r._k for r in S.snapshot_read(spark, keys2).collect()}
    assert k2 == {r._k for r in S.snapshot_read(spark, keys).collect()}
    assert S.snapshot_read(spark, root).count() == 3  # corpus untouched


def test_ivm_sink_crash_between_ingest_and_rollup(spark, tmp_path):
    """A crash AFTER the source commit but BEFORE the rollup step leaves
    the rollup one version behind; the next batch's step applies both
    deltas (the IVM reads from its own applied mark, not the triggering
    batch), and a full replay of the crashed batch is a no-op."""
    from pyspark.sql import functions as F

    from airflow_postgres_csv_spark.operators.snapshots import snapshot_read
    from airflow_postgres_csv_spark.streaming.sinks import (
        ivm_batch,
        snapshot_batch_commit,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            "id", (F.col("id") % 3).alias("g"), (F.col("id") * 2).alias("amt")
        ).coalesce(1)

    ivm_batch(batch(0, 30), 0, src, dst, "g", "amt")
    # batch 1 "crashes" between the two steps: source committed, no rollup
    snapshot_batch_commit(batch(30, 60), 1, src)
    lag = {r.g: r.n for r in snapshot_read(spark, dst).collect()}
    assert sum(lag.values()) == 30  # rollup still at batch 0
    # replayed batch 1 through the sink body: ingest skipped (stamp),
    # rollup catches up over BOTH the missed and the replayed delta
    assert ivm_batch(batch(30, 60), 1, src, dst, "g", "amt") is False
    now = {r.g: (r.n, r.total) for r in snapshot_read(spark, dst).collect()}
    assert sum(n for n, _ in now.values()) == 60
    assert now[0] == (20, sum(i * 2 for i in range(0, 60, 3)))
