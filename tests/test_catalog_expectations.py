"""catalog_write_with_expectations: the atomic two-table publish —
single-stamp exactly-once, crash-adoption recovery, and the consistency
property the per-table gating can't give (no reader ever sees half a
batch through the catalog)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_postgres_csv_spark.operators import catalog_txn as C
from airflow_postgres_csv_spark.operators.catalog_txn import (
    catalog_read,
    catalog_versions,
)
from airflow_postgres_csv_spark.operators.expectations import (
    Expectation,
    catalog_write_with_expectations,
)
from airflow_postgres_csv_spark.operators.snapshots import (
    SnapshotConflictError,
    snapshot_commit,
    snapshot_versions,
)

RULES = [
    Expectation("pos", "v >= 0", "quarantine"),
    Expectation("small", "v < 1000000", "warn"),
]


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        "id", (F.when(F.col("id") % 10 == 0, -1).otherwise(F.col("id"))).alias("v")
    )


def _paths(tmp_path):
    return str(tmp_path / "cat"), str(tmp_path / "clean"), str(tmp_path / "quar")


def test_one_flip_publishes_both_tables(spark, tmp_path):
    cat, clean, quar = _paths(tmp_path)
    m = catalog_write_with_expectations(
        _batch(spark, 0, 100), cat, ("clean", clean), RULES,
        quarantine=("quar", quar), batch_id=0,
    )
    assert m["n_input"] == 100 and m["n_quarantined"] == 10
    assert m["n_written"] == 90
    assert len(catalog_versions(cat)) == 1  # ONE catalog version for both
    assert catalog_read(spark, cat, "clean").count() == 90
    assert catalog_read(spark, cat, "quar").count() == 10
    # quarantined rows carry the failed rule names
    row = catalog_read(spark, cat, "quar").select("_failed_expectations").first()
    assert row[0] == "pos"


def test_replay_of_applied_batch_is_noop(spark, tmp_path):
    cat, clean, quar = _paths(tmp_path)
    catalog_write_with_expectations(
        _batch(spark, 0, 50), cat, ("clean", clean), RULES,
        quarantine=("quar", quar), batch_id=0,
    )
    m = catalog_write_with_expectations(
        _batch(spark, 0, 50), cat, ("clean", clean), RULES,
        quarantine=("quar", quar), batch_id=0,
    )
    assert m["committed_main"] is False and m["committed_quarantine"] is False
    assert catalog_read(spark, cat, "clean").count() == 45
    assert len(catalog_versions(cat)) == 1


def test_crash_before_flip_replays_into_adoption_not_duplication(spark, tmp_path):
    cat, clean, quar = _paths(tmp_path)
    catalog_write_with_expectations(
        _batch(spark, 0, 50), cat, ("clean", clean), RULES,
        quarantine=("quar", quar), batch_id=0,
    )
    # batch 1 crashes after BOTH table commits but before the catalog flip
    real_pin = C.catalog_pin_tables
    calls = {"n": 0}

    def crashing_pin(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash before the catalog flip")
        return real_pin(*a, **kw)

    C.catalog_pin_tables = crashing_pin
    try:
        with pytest.raises(RuntimeError):
            catalog_write_with_expectations(
                _batch(spark, 50, 120), cat, ("clean", clean), RULES,
                quarantine=("quar", quar), batch_id=1,
            )
        # catalog unchanged: readers still see batch-0's world for BOTH
        assert len(catalog_versions(cat)) == 1
        assert catalog_read(spark, cat, "clean").count() == 45
        # the orphaned halves are durable on the table heads
        assert snapshot_versions(clean)[-1] == 2
        # replay: both stamped orphans are ADOPTED, one flip publishes
        m = catalog_write_with_expectations(
            _batch(spark, 50, 120), cat, ("clean", clean), RULES,
            quarantine=("quar", quar), batch_id=1,
        )
    finally:
        C.catalog_pin_tables = real_pin
    assert m["committed_main"] is False and m["committed_quarantine"] is False
    assert m["catalog_manifest"]["version"] == 2
    # exactly once: 45 + 63 clean (7 of 50..119 are %10==0), 5 + 7 quarantined
    assert catalog_read(spark, cat, "clean").count() == 45 + 63
    assert catalog_read(spark, cat, "quar").count() == 5 + 7
    assert snapshot_versions(clean)[-1] == 2  # no third commit


def test_out_of_band_head_surfaces_as_conflict(spark, tmp_path):
    cat, clean, quar = _paths(tmp_path)
    catalog_write_with_expectations(
        _batch(spark, 0, 50), cat, ("clean", clean), RULES,
        quarantine=("quar", quar), batch_id=0,
    )
    # an un-cataloged writer appends to the clean table directly
    snapshot_commit(
        spark.range(5).select("id", F.col("id").alias("v")), clean
    )
    with pytest.raises(SnapshotConflictError):
        catalog_write_with_expectations(
            _batch(spark, 50, 60), cat, ("clean", clean), RULES,
            quarantine=("quar", quar), batch_id=1,
        )
    # nothing published: catalog still at batch 0
    assert len(catalog_versions(cat)) == 1


@pytest.mark.slow
def test_streaming_sink_end_to_end(spark, tmp_path):
    import os
    import shutil
    import tempfile

    from airflow_postgres_csv_spark.operators.expectations import (
        catalog_write_with_expectations,
    )
    from airflow_postgres_csv_spark.streaming.sinks import start_batch_sink

    cat, clean, quar = _paths(tmp_path)
    src = tempfile.mkdtemp(prefix="cat_exp_src_")
    try:
        _batch(spark, 0, 200).write.parquet(os.path.join(src, "b0"))
        stream = (
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(src, "b0"))
        )
        q = start_batch_sink(
            stream,
            lambda df, bid: catalog_write_with_expectations(
                df, cat, ("clean", clean), RULES, ("quar", quar),
                batch_id=bid, retries=2,
            ),
            str(tmp_path / "ckpt"),
        )
        q.processAllAvailable()
        q.stop()
    finally:
        shutil.rmtree(src, ignore_errors=True)
    assert catalog_read(spark, cat, "clean").count() == 180
    assert catalog_read(spark, cat, "quar").count() == 20
    assert len(catalog_versions(cat)) >= 1


def test_out_of_band_append_on_stamped_orphan_is_not_adopted(spark, tmp_path):
    """ADVICE r6: last_batch_id is inherited by _next_body, so an
    out-of-band append stacked on a crash-orphaned stamped commit also
    carries the stamp. Adoption must key on the NON-inherited
    txn_batch_id and surface the stranger's head as a conflict."""
    cat, clean, quar = _paths(tmp_path)
    catalog_write_with_expectations(
        _batch(spark, 0, 50), cat, ("clean", clean), RULES,
        quarantine=("quar", quar), batch_id=0,
    )
    # batch 1 crashes after the clean-table commit, before the flip
    real_pin = C.catalog_pin_tables
    calls = {"n": 0}

    def crashing_pin(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash before the catalog flip")
        return real_pin(*a, **kw)

    C.catalog_pin_tables = crashing_pin
    try:
        with pytest.raises(RuntimeError):
            catalog_write_with_expectations(
                _batch(spark, 50, 120), cat, ("clean", clean), RULES,
                quarantine=("quar", quar), batch_id=1,
            )
        # an out-of-band writer appends ON TOP of the stamped orphan: the
        # new head INHERITS last_batch_id=1 but not txn_batch_id
        snapshot_commit(
            spark.range(5).select("id", F.col("id").alias("v")), clean
        )
        from airflow_postgres_csv_spark.operators import snapshots as S

        head = S._load_manifest(clean, S.snapshot_versions(clean)[-1])
        assert head.get("last_batch_id") == 1  # inherited — the trap
        assert "txn_batch_id" not in head
        # the replay must NOT adopt the stranger's head
        with pytest.raises(SnapshotConflictError):
            catalog_write_with_expectations(
                _batch(spark, 50, 120), cat, ("clean", clean), RULES,
                quarantine=("quar", quar), batch_id=1,
            )
    finally:
        C.catalog_pin_tables = real_pin
    # catalog still serves batch-0's consistent world
    assert len(catalog_versions(cat)) == 1
    assert catalog_read(spark, cat, "clean").count() == 45
