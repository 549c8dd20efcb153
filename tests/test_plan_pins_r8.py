"""Round-8 structural plan pins: make future wall-clock swings on the
new serve paths attributable (the discipline the r5-r7 pins set).

Complements the feature tests: the IVFPQ candidate-scan column-pruning
pin lives in tests/test_dedup_similarity.py; the optimize-incremental
file-level pins in tests/test_snapshots.py; the sketch metadata-only
pin is the op's own scanned_files observable."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_ann_delete_serve_plan_is_broadcast_antijoin(spark, tmp_path):
    """Post-delete IVF serving applies the tombstone as a BROADCAST
    anti-join on vec_id (never a shuffled join, never a cartesian): the
    eviction cost at serve time is O(deleted keys) per task."""
    from airflow_postgres_csv_spark.operators import similarity as S

    rng = np.random.RandomState(5)
    corpus = spark.createDataFrame(
        [(i, rng.randn(16).tolist()) for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    root = str(tmp_path / "ivf")
    S.ivfpq_build_index(corpus, root, n_cells=8, m=None)
    S.ann_index_delete(spark, root, list(range(50, 80)))
    qs = corpus.filter(F.col("vec_id") < 5)
    plan = (
        S.ivfpq_search_index(spark, root, qs, k=3, n_probe=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan, plan[:2000]


def test_phrase_search_plan_is_pure_jvm_and_pruned(spark, tmp_path):
    """Phrase serving runs NO Python evaluation at all (shift/intersect
    are JVM higher-order functions; the only tokenization is the 1-row
    phrase itself, outside the serving plan) and term-prunes the posting
    files before reading."""
    from airflow_postgres_csv_spark.operators.text_index import (
        text_index_build,
        text_index_phrase_search,
        text_index_plan,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta tok{i} gamma alpha beta") for i in range(400)],
        "doc_id long, text string",
    )
    root = str(tmp_path / "ti")
    m = text_index_build(docs.where(F.col("doc_id") < 150), root, positions=True)
    from airflow_postgres_csv_spark.operators.text_index import text_index_append

    m = text_index_append(docs.where(F.col("doc_id").between(150, 280)), root)
    m = text_index_append(docs.where(F.col("doc_id") > 280), root)
    assert m["n_files"] > 2  # enough posting files for skipping to mean anything
    # term pruning: a token that exists in exactly one commit keeps
    # exactly one posting file (zone maps + Bloom on token)
    plan_files = text_index_plan(root, ["tok5"])
    assert len(plan_files["kept"]) == 1 and m["n_files"] == 3, plan_files
    q = text_index_phrase_search(spark, root, "alpha beta")
    plan = q._jdf.queryExecution().executedPlan().toString()
    for node in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert node not in plan, node
    got = q.collect()
    assert got and all(r.n_occurrences == 2 for r in got)
