"""The streaming sink entry point (streaming/sinks.py).

Every foreachBatch sink starts through ``start_batch_sink`` with a named
batch body. Each body's first micro-batch runs a pinned number of Spark
jobs, and a replayed batch id (a fresh checkpoint over the same input)
runs none: the replay gate reads manifests only. The keyed JDBC upsert is
idempotent instead of gated, so its replay repeats the work.
"""

from __future__ import annotations

import inspect
import os

import pytest
from pyspark.sql import functions as F

from airflow_postgres_csv_spark.streaming import sinks


def test_all_lists_exactly_the_public_functions():
    public = {
        name for name, fn in inspect.getmembers(sinks, inspect.isfunction)
        if fn.__module__ == sinks.__name__ and not name.startswith("_")
    }
    assert len(set(sinks.__all__)) == len(sinks.__all__)
    assert set(sinks.__all__) == public


def _frame(spark, lo, hi):
    return spark.range(lo, hi).select(
        "id", (F.col("id") % 3).alias("g"), (F.col("id") * 2).alias("amt")
    )


def _docs(spark):
    texts = ["spark shuffles data", "parquet stores columns", "spark data",
             "columns prune scans", "Spark   shuffles data", "fast search"]
    return spark.createDataFrame(
        [(i, t, "en" if i % 2 else "fr") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string",
    )


def _case(spark, tmp, name):
    """(micro-batch input, batch body) for one body, set up under ``tmp``."""
    from airflow_postgres_csv_spark.operators import snapshots as S
    from airflow_postgres_csv_spark.operators.expectations import (
        Expectation,
        catalog_write_with_expectations,
        snapshot_write_with_expectations,
    )

    root = os.path.join(tmp, "t")
    rules = [Expectation("pos", "amt > 4", "quarantine"),
             Expectation("small", "amt < 1000", "warn")]
    if name == "jdbc_upsert_batch":
        url = f"jdbc:derby:{tmp}/db;create=true"
        return _frame(spark, 0, 6), lambda df, _bid: sinks.jdbc_upsert_batch(
            df, url, "t_upsert", ["id"],
            driver="org.apache.derby.jdbc.EmbeddedDriver",
        )
    if name == "snapshot_batch_commit":
        return _frame(spark, 0, 6), lambda df, bid: sinks.snapshot_batch_commit(
            df, bid, root
        )
    if name == "apply_changes_batch":
        S.snapshot_commit(_frame(spark, 0, 6), root)
        feed = _frame(spark, 3, 9).select(
            "*",
            F.when(F.col("id") % 2 == 0, "insert").otherwise("delete")
            .alias("_change_type"),
            F.lit(2).cast("long").alias("_commit_version"),
        )
        return feed, lambda df, bid: sinks.apply_changes_batch(df, bid, root, "id")
    if name == "merge_into_batch":
        S.snapshot_commit(_frame(spark, 0, 6), root)
        return _frame(spark, 3, 9), lambda df, bid: sinks.merge_into_batch(
            df.groupBy("id").agg(F.max("g").alias("g"), F.sum("amt").alias("amt")),
            bid, root, "id", matched_update={"amt": "t.amt + s.amt"},
        )
    if name == "snapshot_write_with_expectations":
        quar = os.path.join(tmp, "q")
        return _frame(spark, 0, 6), lambda df, bid: snapshot_write_with_expectations(
            df, root, rules, quar, batch_id=bid, retries=2
        )
    if name == "catalog_write_with_expectations":
        cat, quar = os.path.join(tmp, "cat"), os.path.join(tmp, "q")
        return _frame(spark, 0, 6), lambda df, bid: catalog_write_with_expectations(
            df, cat, ("clean", root), rules, ("quar", quar),
            batch_id=bid, retries=2,
        )
    if name == "text_index_batch":
        return _docs(spark), lambda df, bid: sinks.text_index_batch(df, bid, root)
    if name == "ann_index_batch":
        from airflow_postgres_csv_spark.operators.similarity import (
            ivfpq_build_index,
        )

        emb = spark.range(0, 24).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(4)),
                lambda i: F.sin(F.col("id") * i).cast("float"),
            ).alias("embedding"),
        )
        ivfpq_build_index(emb.where("vec_id < 16"), root, n_cells=4, m=None)
        return emb.where("vec_id >= 16"), lambda df, bid: sinks.ann_index_batch(
            df, bid, root
        )
    if name == "dedup_ingest_batch":
        keys = os.path.join(tmp, "keys")
        return _docs(spark).drop("lang"), lambda df, bid: sinks.dedup_ingest_batch(
            df, bid, root, keys
        )
    if name == "wap_batch":
        audits = {"nonneg": "count_if(amt < 0) = 0"}
        return _frame(spark, 0, 6), lambda df, bid: sinks.wap_batch(
            df, bid, root, audits
        )
    if name == "classifier_scoring_batch":
        from airflow_postgres_csv_spark.operators.classifier import (
            load_classifier,
            save_classifier,
            train_quality_classifier,
        )

        model_root = os.path.join(tmp, "model")
        model, _ = train_quality_classifier(_docs(spark), F.col("lang") == "en")
        save_classifier(spark, model, model_root)
        frozen = load_classifier(spark, model_root, 1)
        return _docs(spark), lambda df, bid: sinks.classifier_scoring_batch(
            df, bid, root, frozen, 1
        )
    if name == "ivm_batch":
        dst = os.path.join(tmp, "dst")
        return _frame(spark, 0, 6), lambda df, bid: sinks.ivm_batch(
            df, bid, root, dst, "g", "amt"
        )
    if name == "join_ivm_batch":
        dim, dst = os.path.join(tmp, "dim"), os.path.join(tmp, "dst")
        S.snapshot_commit(
            spark.createDataFrame([(0, "x"), (1, "y"), (2, "z")], "g long, c string"),
            dim,
        )
        return _frame(spark, 0, 6), lambda df, bid: sinks.join_ivm_batch(
            df, bid, root, dim, dst, "g", "c", "amt"
        )
    raise KeyError(name)


# Spark jobs of one micro-batch through each body: (first batch, replayed
# batch). The per-sink wrappers that start_batch_sink replaced ran the
# same counts on these inputs, except that the classifier wrapper also
# loaded the model at every start (one more job per start, replay
# included); its caller now loads it once, before the stream.
_JOBS = {
    "ann_index_batch": (3, 0),
    "apply_changes_batch": (11, 0),
    "catalog_write_with_expectations": (2, 0),
    "classifier_scoring_batch": (6, 0),
    "dedup_ingest_batch": (5, 0),
    "ivm_batch": (3, 0),
    "jdbc_upsert_batch": (1, 1),
    "join_ivm_batch": (7, 0),
    "merge_into_batch": (18, 0),
    "snapshot_batch_commit": (1, 0),
    "snapshot_write_with_expectations": (2, 0),
    "text_index_batch": (11, 0),
    "wap_batch": (3, 0),
}


@pytest.mark.parametrize("name", sorted(_JOBS))
def test_batch_body_jobs_and_replay(spark, spark_jobs, tmp_path, name):
    tmp = str(tmp_path)
    frame, body = _case(spark, tmp, name)
    src = os.path.join(tmp, "src")
    frame.coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def jobs_of_one_run(ckpt: str) -> int:
        # the stream thread inherits the job tag set while it starts
        with spark_jobs() as jobs:
            q = sinks.start_batch_sink(
                spark.readStream.schema(schema).parquet(src), body,
                os.path.join(tmp, ckpt),
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        return jobs.jobs

    first = jobs_of_one_run("ckpt")
    # a fresh checkpoint re-delivers the same input as batch 0 again
    replay = jobs_of_one_run("ckpt2")
    assert (first, replay) == _JOBS[name]
