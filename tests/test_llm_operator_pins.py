"""Plan, job and py4j pins for the LLM-curation operators: persisted
ANN searches of every shape (IVF, PQ, IVF-PQ) plan no Python-worker
node, the JVM PQ reconstruction equals numpy's decoder exactly,
query-side probe ranking agrees with the numpy ranking, and MinHash,
SimHash and the index searches stay within Spark-job and py4j budgets
(measured on pyspark 4.1.2, plus about 20% headroom)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from airflow_postgres_csv_spark.catalog import load
from airflow_postgres_csv_spark.operators import dedup as D
from airflow_postgres_csv_spark.operators import similarity as S
from airflow_postgres_csv_spark.operators.snapshots import (
    _load_manifest,
    snapshot_read,
    snapshot_versions,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(32).astype("float32").tolist()) for i in range(400)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


# the three index shapes: IVF (no codes), PQ (no coarse cells), IVF-PQ
SHAPES = {
    "ivf": {"n_cells": 8, "m": None},
    "pq": {"n_cells": None, "m": 8},
    "ivfpq": {"n_cells": 8, "m": 8},
}


@pytest.fixture(scope="module")
def index_root(corpus, tmp_path_factory):
    """shape -> root of a module-scoped index of that shape, built once."""
    roots: dict = {}

    def get(shape):
        if shape not in roots:
            roots[shape] = str(tmp_path_factory.mktemp(shape) / "idx")
            S.ivfpq_build_index(corpus, roots[shape], n_codes=16, **SHAPES[shape])
        return roots[shape]

    return get


@pytest.fixture(scope="module")
def ivfpq_root(index_root):
    return index_root("ivfpq")


def _model(root):
    return _load_manifest(root, snapshot_versions(root)[-1])["ann_index"]


@pytest.mark.parametrize("shape", list(SHAPES))
def test_search_plans_run_no_python_worker(spark, corpus, index_root, shape):
    qs = corpus.filter(F.col("vec_id") < 8)
    df = S.ivfpq_search_index(spark, index_root(shape), qs, k=5, n_probe=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert df.count() == 8 * 5


def test_jvm_pq_reconstruction_equals_numpy_decode(spark, ivfpq_root):
    """``C[cell] + concat_j B[j][code_j]`` for IVF-PQ rows and
    ``concat_j B[j][code_j]`` for plain PQ rows, bit for bit."""
    meta = _model(ivfpq_root)
    C = np.asarray(meta["centroids"], dtype=np.float64)
    B = np.asarray(meta["codebooks"], dtype=np.float64)
    model = S._model_table(spark, meta["centroids"], meta["codebooks"])
    rows = snapshot_read(spark, ivfpq_root).select("vec_id", "cell", "pq_codes")
    coded = {r.vec_id: r for r in rows.collect()}
    with_cell = S._pq_reconstruct(rows, model, "vec_id").collect()
    no_cell = S._pq_reconstruct(
        rows.select("vec_id", "pq_codes"), model, "vec_id"
    ).collect()
    assert len(with_cell) == len(no_cell) == len(coded) == 400
    for r in no_cell:
        c = coded[r.vec_id]
        resid = np.concatenate([B[j][code] for j, code in enumerate(c.pq_codes)])
        assert np.array_equal(np.asarray(r._rec), resid)
    for r in with_cell:
        c = coded[r.vec_id]
        resid = np.concatenate([B[j][code] for j, code in enumerate(c.pq_codes)])
        assert r.cell == c.cell
        assert np.array_equal(np.asarray(r._rec), C[c.cell] + resid)


def test_jvm_probe_ranking_matches_numpy(spark, corpus, ivfpq_root):
    C = np.asarray(_model(ivfpq_root)["centroids"], dtype=np.float64)
    qs = corpus.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qvec")
    )
    probes = S._probe_cells(qs, S._model_table(spark, C.tolist()), 3)
    got: dict = {}
    for r in probes.collect():
        got.setdefault(r.query_id, []).append(r.cell)
    for r in qs.collect():
        d2 = ((np.asarray(r._qvec, dtype=np.float64) - C) ** 2).sum(axis=1)
        want = np.argsort(d2, kind="stable")[:3].tolist()
        assert sorted(got[r.query_id]) == sorted(want)


# measured: MinHash 4 jobs / 901 calls, SimHash 6 / 535 (the SimHash
# columns as Column-method chains took over 2,000 calls)
@pytest.mark.parametrize(
    "pairs, max_jobs, max_calls",
    [(D.minhash_near_dup_pairs, 5, 1080), (D.simhash_near_dup_pairs, 7, 640)],
    ids=["minhash", "simhash"],
)
def test_dedup_pairs_job_and_py4j_budget(
    spark, sf_dir, spark_jobs, py4j_calls, pairs, max_jobs, max_calls
):
    docs = load(spark, sf_dir, "documents")
    with spark_jobs() as jobs, py4j_calls() as calls:
        rows = pairs(docs).collect()
    assert rows
    assert jobs.jobs <= max_jobs, jobs.jobs
    assert calls.calls <= max_calls, calls.calls


# measured with this file alone: IVF 4 jobs / 158 calls, PQ 7 / 247,
# IVF-PQ 10 / 316 (the spread of the one-file index included)
@pytest.mark.parametrize(
    "shape, max_jobs, max_calls",
    [("ivf", 5, 190), ("pq", 8, 296), ("ivfpq", 12, 360)],
    ids=["ivf", "pq", "ivfpq"],
)
def test_search_job_and_py4j_budget(
    spark, corpus, index_root, spark_jobs, py4j_calls, shape, max_jobs, max_calls
):
    root = index_root(shape)
    qs = corpus.filter(F.col("vec_id") < 16)
    with spark_jobs() as jobs, py4j_calls() as calls:
        rows = S.ivfpq_search_index(spark, root, qs, k=5).collect()
    assert len(rows) == 16 * 5
    assert jobs.jobs <= max_jobs, jobs.jobs
    assert calls.calls <= max_calls, calls.calls
