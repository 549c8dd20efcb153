"""snapshot_write_with_expectations: DLT-style row-level quality gates."""

import pytest
from pyspark.sql import functions as F

from airflow_postgres_csv_spark.operators.expectations import (
    Expectation,
    snapshot_write_with_expectations,
)
from airflow_postgres_csv_spark.operators.snapshots import snapshot_read


def _batch(spark):
    rows = [
        (1, 10, "ok"),
        (2, -5, "ok"),       # violates positive (warn)
        (3, 20, "bad"),      # violates status (quarantine)
        (4, 30, None),       # NULL status -> violation (quarantine)
        (5, 999, "ok"),      # violates cap (drop)
        (6, 999, "bad"),     # drop beats quarantine
    ]
    return spark.createDataFrame(rows, "id long, amount long, status string")


_RULES = [
    Expectation("positive_amount", "amount > 0", "warn"),
    Expectation("known_status", "status = 'ok'", "quarantine"),
    Expectation("amount_cap", "amount < 100", "drop"),
]


def test_expectations_route_and_count(spark, tmp_path):
    root, quar = str(tmp_path / "t"), str(tmp_path / "q")
    m = snapshot_write_with_expectations(_batch(spark), root, _RULES, quar)
    assert m["n_input"] == 6
    assert m["n_written"] == 2       # ids 1, 2
    assert m["n_quarantined"] == 2   # ids 3, 4
    assert m["n_dropped"] == 2       # ids 5, 6 (6 despite bad status)
    assert m["violations"] == {
        "positive_amount": 1,
        "known_status": 3,   # 3, 4, 6 — counts are pre-routing
        "amount_cap": 2,
    }
    written = sorted(r.id for r in snapshot_read(spark, root).collect())
    assert written == [1, 2]
    q = {r.id: r._failed_expectations for r in snapshot_read(spark, quar).collect()}
    assert q == {3: "known_status", 4: "known_status"}


def test_expectations_warn_only_writes_everything(spark, tmp_path):
    root = str(tmp_path / "t")
    m = snapshot_write_with_expectations(
        _batch(spark), root, [Expectation("pos", "amount > 0", "warn")]
    )
    assert m["n_written"] == 6 and m["n_dropped"] == 0
    assert m["violations"] == {"pos": 1}
    assert snapshot_read(spark, root).count() == 6
    assert m["quarantine_manifest"] is None


def test_expectations_append_accumulates(spark, tmp_path):
    root, quar = str(tmp_path / "t"), str(tmp_path / "q")
    snapshot_write_with_expectations(_batch(spark), root, _RULES, quar)
    snapshot_write_with_expectations(
        _batch(spark).withColumn("id", F.col("id") + 10), root, _RULES, quar
    )
    assert snapshot_read(spark, root).count() == 4
    assert snapshot_read(spark, quar).count() == 4


def test_expectations_validation_errors(spark, tmp_path):
    with pytest.raises(ValueError, match="quarantine_root"):
        snapshot_write_with_expectations(
            _batch(spark), str(tmp_path / "t"),
            [Expectation("s", "status = 'ok'", "quarantine")],
        )
    with pytest.raises(ValueError, match="duplicate"):
        snapshot_write_with_expectations(
            _batch(spark), str(tmp_path / "t"),
            [Expectation("a", "amount > 0"), Expectation("a", "amount < 9")],
        )
    with pytest.raises(ValueError, match="action"):
        Expectation("a", "amount > 0", "explode")


def test_expectations_batch_gate_per_table(spark, tmp_path):
    """Per-destination exactly-once: a replayed batch skips the table that
    already holds it and commits only to the one that missed it."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_commit,
        snapshot_versions,
    )

    root, quar = str(tmp_path / "t"), str(tmp_path / "q")
    m = snapshot_write_with_expectations(
        _batch(spark), root, _RULES, quar, batch_id=0
    )
    assert m["committed_main"] and m["committed_quarantine"]

    # full replay: both stamped -> no-op, no new versions, no scan
    m2 = snapshot_write_with_expectations(
        _batch(spark), root, _RULES, quar, batch_id=0
    )
    assert not m2["committed_main"] and not m2["committed_quarantine"]
    assert snapshot_versions(root) == [1] and snapshot_versions(quar) == [1]

    # partial crash: main already holds batch 1, quarantine does not
    snapshot_commit(
        _batch(spark).limit(0), root, extra={"last_batch_id": 1}
    )
    m3 = snapshot_write_with_expectations(
        _batch(spark), root, _RULES, quar, batch_id=1
    )
    assert not m3["committed_main"] and m3["committed_quarantine"]
    assert snapshot_versions(root) == [1, 2]      # only the manual stamp
    assert snapshot_versions(quar) == [1, 2]
    assert snapshot_read(spark, root).count() == 2       # no duplicate rows
    assert snapshot_read(spark, quar).count() == 4


def test_expectations_streaming_sink_exactly_once(spark, tmp_path):
    """The streaming sink routes a micro-batch and a checkpoint-restarted
    run replays nothing."""
    from airflow_postgres_csv_spark.operators.expectations import (
        snapshot_write_with_expectations,
    )
    from airflow_postgres_csv_spark.streaming.sinks import start_batch_sink

    src = str(tmp_path / "src")
    _batch(spark).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    root, quar, ckpt = (str(tmp_path / d) for d in ("t", "q", "ckpt"))

    for _ in range(2):  # second run = restart from checkpoint, must no-op
        q = start_batch_sink(
            spark.readStream.schema(schema).parquet(src),
            lambda df, bid: snapshot_write_with_expectations(
                df, root, _RULES, quar, batch_id=bid, retries=2
            ),
            ckpt,
        )
        q.processAllAvailable()
        q.stop()
    assert sorted(r.id for r in snapshot_read(spark, root).collect()) == [1, 2]
    assert snapshot_read(spark, quar).count() == 2
