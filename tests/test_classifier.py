"""Trained quality/domain classifier (operators/classifier.py)."""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F

from airflow_postgres_csv_spark.catalog import load
from airflow_postgres_csv_spark.operators.classifier import (
    hashed_token_counts,
    score_documents,
    train_quality_classifier,
)


def test_hashed_token_counts(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    f = hashed_token_counts(docs, F.col("lang") == "en", n_buckets=32)
    assert f.where((F.col("b") < 0) | (F.col("b") >= 32)).count() == 0
    assert f.select("y").distinct().count() == 2
    # counts sum back to per-doc token counts
    total = f.agg(F.sum("cnt")).first()[0]
    from airflow_postgres_csv_spark.functions import texts as X

    assert total == docs.select(F.size(X.tokens("text")).alias("n")).agg(
        F.sum("n")
    ).first()[0]


def test_classifier_recovers_planted_signal(spark, sf_dir):
    """Learning sanity floor: plant class-marker tokens in the positive
    docs' text and the one-pass model must recover them (the fixture's
    lang labels share one synthetic vocabulary, so THEY are near the
    Bayes ceiling at ~60% — a planted signal separates mechanism bugs
    from fixture inseparability)."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("lang") == "en",
            F.concat(F.col("text"), F.lit(" qmark qmark")),
        ).otherwise(F.col("text")),
    )
    model, scored = train_quality_classifier(docs, F.col("lang") == "en")
    scored = scored.cache()
    n = scored.count()
    majority = scored.groupBy("y").count().agg(F.max("count")).first()[0] / n
    acc = scored.where(F.col("pred") == F.col("y")).count() / n
    assert acc > max(majority, 0.95), f"acc {acc:.3f} majority {majority:.3f}"
    # model invariants: exact 9-dp decimals for every bucket
    assert len(model["llr"]) == model["n_buckets"] == 256
    assert all(isinstance(w, Decimal) for w in model["llr"].values())
    assert isinstance(model["prior"], Decimal)
    # pred is the logit sign
    bad = scored.where(
        ((F.col("score") >= 0).cast("int")) != F.col("pred")
    ).count()
    assert bad == 0


def test_score_documents_matches_training_scores(spark, sf_dir):
    """score_documents (the apply-to-new-corpus hot path) reproduces the
    training-time scores exactly on the same corpus."""
    docs = load(spark, sf_dir, "documents")
    model, scored = train_quality_classifier(docs, F.col("lang") == "en")
    rescored = score_documents(docs, model)
    a = {r["doc_id"]: (r["score"], r["pred"]) for r in scored.collect()}
    b = {r["doc_id"]: (r["score"], r["pred"]) for r in rescored.collect()}
    assert a == b


def test_model_persistence_roundtrip(spark, sf_dir, tmp_path):
    """save/load through a versioned snapshot table is an exact round
    trip (decimal weights bit-for-bit); retraining commits a new
    generation and old generations stay pinnable."""
    from airflow_postgres_csv_spark.operators.classifier import (
        load_classifier,
        save_classifier,
    )

    docs = load(spark, sf_dir, "documents")
    model, scored = train_quality_classifier(docs, F.col("lang") == "en")
    root = str(tmp_path / "clf")
    m1 = save_classifier(spark, model, root)
    assert load_classifier(spark, root) == model
    # a retrained generation supersedes; version pin recovers the old one
    model2, _ = train_quality_classifier(
        docs, F.col("lang") == "fr", n_buckets=128
    )
    save_classifier(spark, model2, root)
    assert load_classifier(spark, root) == model2
    assert load_classifier(spark, root, version=m1["version"]) == model
    # loaded model scores identically
    a = {r["doc_id"]: r["score"] for r in scored.collect()}
    b = {
        r["doc_id"]: r["score"]
        for r in score_documents(
            docs, load_classifier(spark, root, version=m1["version"])
        ).collect()
    }
    assert a == b


def test_score_documents_unseen_tokens_use_default_llr(spark, sf_dir):
    """Scoring a corpus containing tokens never seen in training: their
    buckets fall back to the smoothing-only ratio instead of crashing
    or silently dropping mass."""
    from pyspark.sql import Row

    docs = load(spark, sf_dir, "documents")
    model, _ = train_quality_classifier(docs, F.col("lang") == "en")
    new = spark.createDataFrame(
        [Row(doc_id=1, text="zzzunseen qqqnovel zzzunseen")]
    )
    out = score_documents(new, model).collect()
    assert len(out) == 1 and out[0]["score"] is not None
    assert out[0]["pred"] in (0, 1)


def test_streaming_classifier_sink_scores_and_pins_generation(
    spark, sf_dir, tmp_path
):
    """Score-on-ingest sink: live scores equal batch scoring, each
    commit stamps the model generation it used, replayed batches are
    no-ops, and the generation is the one the caller loaded before the
    stream started — a retrain mid-stream never changes in-flight
    scoring (load an older version to pin it explicitly)."""
    import os

    from airflow_postgres_csv_spark.operators.classifier import (
        load_classifier,
        save_classifier,
    )
    from airflow_postgres_csv_spark.operators.snapshots import (
        _load_manifest,
        snapshot_read,
        snapshot_versions,
    )
    from airflow_postgres_csv_spark.streaming.sinks import (
        classifier_scoring_batch,
        start_batch_sink,
    )

    docs = load(spark, sf_dir, "documents")
    model, _ = train_quality_classifier(docs, F.col("lang") == "en")
    model_root = str(tmp_path / "model")
    save_classifier(spark, model, model_root)
    # a retrained (different-label) generation 2 exists; the sink pinned
    # to generation 1 must ignore it
    model2, _ = train_quality_classifier(docs, F.col("lang") != "en")
    save_classifier(spark, model2, model_root)
    assert snapshot_versions(model_root) == [1, 2]

    src = str(tmp_path / "src")
    os.makedirs(src)
    docs.limit(40).coalesce(1).write.mode("append").parquet(src)
    root = str(tmp_path / "scored")
    gen1 = load_classifier(spark, model_root, 1)
    q = start_batch_sink(
        spark.readStream.schema(docs.schema).parquet(src),
        lambda df, bid: classifier_scoring_batch(df, bid, root, gen1, 1),
        str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    live = {
        r["doc_id"]: (r["score"], r["pred"])
        for r in snapshot_read(spark, root).collect()
    }
    batch = {
        r["doc_id"]: (r["score"], r["pred"])
        for r in score_documents(
            snapshot_read(spark, root).select(docs.columns), model
        ).collect()
    }
    assert live == batch and len(live) == 40  # gen-1 scores, no gating
    m = _load_manifest(root, 1)
    assert m["classifier_model"] == {"version": 1}
    assert m["last_batch_id"] == 0
