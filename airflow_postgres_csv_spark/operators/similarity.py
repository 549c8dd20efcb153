"""Similarity search over embedding columns (SURVEY.md §2.3).

- :func:`topk_cosine_bruteforce` — exact top-k: block-joined (or broadcast
  cross-joined) cosine + per-query window top-k. The correctness baseline.
- :func:`lsh_bucket_topk` — approximate top-k via random-hyperplane LSH:
  sign-bit bucketing with multi-probe, rerank only within probed buckets.
- :func:`ivf_topk` / :func:`pq_topk` — in-memory IVF and product-quantized
  (PQ) approximate top-k over a freshly coded corpus.
- One persisted ANN index, IVF-PQ (``ivfpq_build_index`` /
  ``ivfpq_index_append`` / ``ivfpq_search_index``, plus
  ``ann_index_delete`` and ``ann_derive_settings``): coarse cells with
  PQ-coded residuals. ``n_cells=None`` builds it without the coarse
  quantizer (a PQ index over raw vectors), ``m=None`` without the codes
  (an IVF index whose probed cells are reranked exactly).

100 TB design:
- Brute force is O(Q·N) dot products — viable only when Q is small and the
  query side is broadcast (each executor scans its partition of N once,
  no shuffle of the corpus). The window top-k shuffles just (Q·N) score
  rows — avoid by pre-aggregating per-partition top-k first
  (``partial_topk=True``), which cuts the shuffle to Q·k·partitions rows.
- LSH replaces the N-side scan with a bucket equi-join: each query probes
  its own bucket plus Hamming-1 neighbors (multi-probe) — recall tunable
  by n_planes / probes without ever computing N² pairs.
- Hyperplanes are generated from a fixed seed and inlined as literal
  arrays into the plan (tiny: n_planes × dim floats), so executors need no
  side-channel broadcast.
- Persisted-index search runs no Python worker: the quantizer models ride
  a one-row broadcast relation, and query probe ranking and PQ
  reconstruction are JVM expressions over it. Python workers (Arrow UDFs)
  run only for corpus-side coding (build, append, ``*_topk`` corpora).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_postgres_csv_spark.operators.dedup import _dot_sql, _fold_sql, cosine_expr

__all__ = [
    "topk_cosine_bruteforce",
    "radius_cosine_search",
    "random_hyperplanes",
    "lsh_bucket_topk",
    "ivf_centroids",
    "ivf_topk",
    "pq_codebooks",
    "pq_encode",
    "pq_topk",
    "ivfpq_build_index",
    "ivfpq_index_append",
    "ivfpq_search_index",
    "ann_index_delete",
    "ann_derive_settings",
]


def topk_cosine_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    partial_topk: bool = False,
) -> DataFrame:
    """Exact cosine top-k per query. Queries are broadcast; the corpus is
    scanned once per partition. Ties broken by corpus id (deterministic).

    ``partial_topk`` pre-reduces each corpus partition to its local top-k
    per query before the global window — the map-side-combine analog for
    top-k, shrinking the shuffle from Q·N to Q·k·partitions rows. It pays
    an Arrow round trip per partition, so turn it on when N/partition ≫ k
    (the 100 TB regime); at small scale the plain shuffle is cheaper
    (measured 2× at sf0.1).
    """
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qvec")
    )
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            cosine_expr(vec_col, "_qvec").alias("cosine"),
        )
    )
    if partial_topk:
        scored = _local_topk(scored, query_id_col, k)
    return _top_rows(scored, query_id_col, k)


def radius_cosine_search(
    corpus: DataFrame,
    queries: DataFrame,
    radius: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Range (radius) search: every corpus vector with cosine >= radius of
    each query — the fixed-threshold sibling of top-k (retrieval recall
    sweeps, near-duplicate probes, GDPR-style similarity lookups).

    Same scale shape as :func:`topk_cosine_bruteforce`: the query side is
    broadcast and the corpus streams map-side (one scan, no shuffle at
    all — unlike top-k there is no ranking window), so cost is
    O(|corpus| * |queries|) compute with zero data movement. For
    corpus-side pre-filtering at very large |queries|, feed the blocked
    pair set from the LSH/IVF operators instead.
    """
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qvec")
    )
    return (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            cosine_expr(vec_col, "_qvec").alias("cosine"),
        )
        .filter(F.col("cosine") >= radius)
    )


def _local_topk(scored: DataFrame, query_id_col: str, k: int) -> DataFrame:
    """Map-side top-k: reduce each partition to its local top-k rows per
    query before the global window's shuffle.

    Runs as Arrow-batched ``mapInPandas`` on whatever partitioning the
    score computation produced — no shuffle of its own — cutting the
    window's shuffle input from Q·N rows to Q·k·partitions. Ties kept by
    (cosine desc, neighbor_id asc), matching the global ranking, so the
    reduction is lossless.
    """
    import pandas as pd

    out_schema = scored.schema

    def _reduce(batches):
        # streaming fold: running state never exceeds Q·k + one Arrow batch
        running = None
        for batch in batches:
            pool = batch if running is None else pd.concat(
                [running, batch], ignore_index=True
            )
            pool = pool.sort_values(
                ["cosine", "neighbor_id"], ascending=[False, True], kind="mergesort"
            )
            running = pool.groupby(query_id_col, sort=False).head(k)
        if running is not None:
            yield running

    return scored.mapInPandas(_reduce, out_schema)


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype("float64").tolist()


def _bucket_codes_udf(planes_stack: "np.ndarray", n_tables: int, n_planes: int):
    """Vectorized sign-LSH bucket codes for ALL tables in one kernel.

    Returns a pandas_udf ``vec -> array<int>`` (one bucket id per table):
    each Arrow batch does a single (B×dim)·(dim×T·P) matmul, then packs
    sign bits per table. This replaces T·P per-row Catalyst folds —
    higher-order expressions never reach whole-stage codegen, and inlining
    T·P×dim literal floats bloats the plan — with one numpy matmul per
    batch, which is the per-row cost that dominates bucket assignment at
    corpus scale. The plane matrix rides inside the task closure (tiny:
    T·P×dim floats), so executors need no side-channel broadcast.
    """
    weights = (2 ** np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("array<int>")
    def codes(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (X @ planes_stack.T) > 0
        packed = (bits.reshape(len(X), n_tables, n_planes) * weights).sum(axis=2)
        return pd.Series(packed.astype("int32").tolist())

    return codes


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 1,
    seed: int = 42,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: equi-join on LSH bucket, rerank inside buckets.

    - ``multiprobe``: also probe every Hamming-1 neighbor bucket of the
      query's bucket (flip each sign bit) — n_planes× more candidate rows,
      much better recall, still bucket-local.
    - ``n_tables``: L independent hash tables (fresh hyperplanes per
      table); a neighbor is a candidate if it collides in ANY table —
      the classic recall amplifier when neighbors sit at wide angles
      (miss probability decays as miss_single^L). Candidates are unioned
      via the (table, bucket) composite join key, so cost grows linearly
      in L, never quadratically in N.

    Bucket assignment for all L tables happens in ONE corpus scan and ONE
    Arrow-vectorized kernel (``_bucket_codes_udf``) whose array output is
    posexploded into (table, bucket) join keys.
    """
    planes_stack = np.vstack(
        [
            np.asarray(random_hyperplanes(dim, n_planes, seed + t_idx))
            for t_idx in range(n_tables)
        ]
    )
    codes = _bucket_codes_udf(planes_stack, n_tables, n_planes)
    c_buckets = corpus.select(
        id_col, vec_col, F.posexplode(codes(vec_col)).alias("_tbl", "_bucket")
    )
    probe_arr = F.array(F.col("_qb"))
    if multiprobe:
        probe_arr = F.array(
            F.col("_qb"),
            *[
                F.col("_qb").bitwiseXOR(F.lit(2**i)).cast("int")
                for i in range(n_planes)
            ],
        )
    q = (
        queries.select(
            F.col(id_col).alias(query_id_col),
            F.col(vec_col).alias("_qvec"),
            F.posexplode(codes(vec_col)).alias("_tbl", "_qb"),
        )
        .select(
            query_id_col,
            "_qvec",
            "_tbl",
            F.explode(probe_arr).alias("_bucket"),
        )
    )
    scored = (
        c_buckets.join(F.broadcast(q), ["_tbl", "_bucket"])
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            cosine_expr(vec_col, "_qvec").alias("cosine"),
        )
        .distinct()  # multiprobe/tables can hit the same pair repeatedly
    )
    return _top_rows(scored, query_id_col, k)


def _train_models(
    corpus: DataFrame,
    n_cells: int | None,
    m: int | None,
    n_codes: int,
    id_col: str,
    vec_col: str,
    sample: int,
    iters: int,
    seed: int,
) -> tuple[list[list[float]] | None, list[list[list[float]]] | None]:
    """(centroids, codebooks) fitted on ONE deterministic corpus sample
    (first ``sample`` rows by id — reproducible, unlike rand-sampling):
    k-means centroids when ``n_cells`` is set, then per-subspace PQ
    codebooks when ``m`` is set — on the residuals to those centroids,
    or on the raw vectors without them. One ``default_rng(seed)`` feeds
    both fits in that order. Fitting is driver-side numpy: the models
    are tiny even when the corpus is 100 TB; only coding is distributed.
    ``sample`` is hard-capped so the driver-side collect can never
    silently become a corpus download."""
    if n_cells is None and m is None:
        raise ValueError("an ANN index needs n_cells, m or both")
    if sample > 100_000:
        raise ValueError(
            f"sample={sample} exceeds the 100k driver-side cap; quantizers "
            "do not improve with more — train on a bounded sample"
        )
    rows = corpus.orderBy(id_col).limit(sample).select(vec_col).collect()
    X = np.array([list(r[0]) for r in rows], dtype=np.float64)
    dim = X.shape[1]
    if m is not None and dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    rng = np.random.default_rng(seed)
    C = None if n_cells is None else _kmeans_fit(X, n_cells, iters, rng)
    centroids = None if C is None else C.tolist()
    if m is None:
        return centroids, None
    if C is not None:  # residuals — what IVF-PQ codes
        nearest = np.argmin(((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), axis=1)
        X = X - C[nearest]
    dsub = dim // m
    return centroids, [
        _kmeans_fit(X[:, j * dsub : (j + 1) * dsub], n_codes, iters, rng).tolist()
        for j in range(m)
    ]


def ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 512,
    iters: int = 8,
    seed: int = 42,
) -> list[list[float]]:
    """Fit the IVF coarse quantizer: k-means centroids on a capped,
    deterministic corpus sample (:func:`_train_models`)."""
    return _train_models(
        corpus, n_cells, None, 0, id_col, vec_col, sample, iters, seed
    )[0]


def _kmeans_fit(X: "np.ndarray", k: int, iters: int, rng) -> "np.ndarray":
    """k-means++ seeding + Lloyd iterations (shared by the IVF coarse
    quantizer and the per-subspace PQ codebooks)."""
    centroids = [X[rng.integers(len(X))]]
    for _ in range(k - 1):
        d2 = np.min(
            [((X - c) ** 2).sum(axis=1) for c in centroids], axis=0
        )
        probs = d2 / d2.sum() if d2.sum() > 0 else None
        centroids.append(X[rng.choice(len(X), p=probs)])
    C = np.array(centroids)
    for _ in range(iters):  # Lloyd
        assign = np.argmin(((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


def _cell_ranking_udf(centroids: list[list[float]]):
    """Corpus-side coarse-quantizer assignment: pandas_udf ``vec ->
    array<int>`` of cell ids ordered by ascending squared distance.

    One Arrow batch computes all B×n_cells distances with the
    ``|x-c|² = |x|² - 2x·c + |c|²`` expansion (a single matmul) and
    argsorts per row: at N corpus rows numpy's matmul throughput beats
    any per-row Catalyst fold. The centroid matrix travels in the task
    closure (n_cells × dim floats). Ties are broken by cell id (stable
    argsort on (d2, cell)). Only corpus-side coding (:func:`_code`: build,
    append, ``ivf_topk``'s corpus) runs this in Python workers;
    query-side probe ranking is the JVM :func:`_probe_cells`.
    """
    C = np.asarray(centroids, dtype=np.float64)
    c_norms = (C**2).sum(axis=1)

    @F.pandas_udf("array<int>")
    def ranking(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        d2 = (X**2).sum(axis=1, keepdims=True) - 2.0 * (X @ C.T) + c_norms
        order = np.argsort(d2, axis=1, kind="stable")
        return pd.Series([row.astype("int32").tolist() for row in order])

    return ranking


def _model_table(
    spark: SparkSession,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """One-row relation carrying the quantizer models as arrays —
    ``_cents array<array<double>>`` and/or ``_books
    array<array<array<double>>>`` — for a broadcast cross join. Built
    through one Arrow batch: inlining the models as literals costs a
    py4j call per element and grows every plan with the model."""
    from airflow_postgres_csv_spark.operators.localframe import arrow_local_df

    cols = {"_cents array<array<double>>": centroids,
            "_books array<array<array<double>>>": codebooks}
    cols = {ddl: v for ddl, v in cols.items() if v is not None}
    return arrow_local_df(spark, [tuple(cols.values())], ", ".join(cols))


def _pq_reconstruct(rows: DataFrame, model: DataFrame, id_col: str) -> DataFrame:
    """(id, [cell,] _rec): each coded row's PQ reconstruction, computed
    once per row in the JVM against the broadcast :func:`_model_table` —
    the concatenation of each subspace's codebook entry, plus
    ``centroid[cell]`` when ``rows`` carry a cell (IVF-PQ residual
    codes). The same doubles the numpy decoder produced."""
    rec = "flatten(transform(pq_codes, (c, j) -> _books[j][c]))"
    keep = [id_col]
    if "cell" in rows.columns:
        rec, keep = f"zip_with(_cents[cell], {rec}, (x, y) -> x + y)", [id_col, "cell"]
    return rows.crossJoin(F.broadcast(model)).select(*keep, F.expr(rec).alias("_rec"))


def _query_side(
    queries: DataFrame, id_col: str, vec_col: str, query_id_col: str
) -> DataFrame:
    """(query_id, _qvec, _qn): each query vector with its squared norm,
    folded once per query instead of once per scored pair."""
    return queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qvec")
    ).withColumn("_qn", F.expr(_dot_sql("_qvec", "_qvec")))


def _probe_cells(q: DataFrame, model: DataFrame, n_probe: int) -> DataFrame:
    """Query-side probe ranking in the JVM: ``q`` (with ``_qvec``) gains
    one row per probed ``cell`` — its ``n_probe`` nearest centroids by a
    squared-L2 fold, ``array_sort``-ed on (distance, cell id). The query
    set is tiny, so a per-query fold against the broadcast ``_cents``
    beats a Python-worker round trip."""
    dist = _fold_sql("(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)", "_qvec", "c")
    ranked = (
        f"slice(array_sort(transform(_cents, (c, i) -> "
        f"struct({dist} AS d, i AS cell))), 1, {int(n_probe)})"
    )
    return q.crossJoin(F.broadcast(model.select("_cents"))).select(
        *q.columns, F.expr(f"explode(transform({ranked}, p -> p.cell)) AS cell")
    )


def _top_rows(
    scored: DataFrame, query_id_col: str, k: int, score: str = "cosine",
    rank: str = "rank",
) -> DataFrame:
    """(query_id, neighbor_id, score, rank): the ``k`` best rows per query
    by (``score`` desc, neighbor_id), numbered in ``rank``."""
    return scored.withColumn(
        rank,
        F.expr(
            f"row_number() OVER (PARTITION BY `{query_id_col}`"
            f" ORDER BY `{score}` DESC, neighbor_id)"
        ),
    ).filter(f"`{rank}` <= {int(k)}").select(query_id_col, "neighbor_id", score, rank)


def _adc_rerank(
    rec: DataFrame,
    q: DataFrame,
    vectors: DataFrame,
    k: int,
    rerank_factor: int,
    id_col: str,
    query_id_col: str,
    q_probes: DataFrame | None = None,
) -> DataFrame:
    """PQ serving tail shared by every PQ searcher. ``rec`` holds one
    reconstruction ``_rec`` per coded row (asymmetric distance
    computation, Jégou et al. 2011); its squared norm is folded once per
    row, so each (row, query) pair — joined to ``q_probes`` on ``cell``,
    or every query ``q`` — costs one dot fold. The ``k·rerank_factor``
    best per query are then reranked exactly against ``vectors``
    (neighbor_id, _nvec)."""
    rec = rec.withColumn("_rn", F.expr(_dot_sql("_rec", "_rec")))
    pairs = (
        rec.crossJoin(F.broadcast(q)) if q_probes is None
        else rec.join(F.broadcast(q_probes), "cell")
    )
    approx = pairs.filter(F.col(id_col) != F.col(query_id_col)).select(
        query_id_col,
        F.col(id_col).alias("neighbor_id"),
        F.expr(f"{_dot_sql('_rec', '_qvec')} / sqrt(_rn * _qn)").alias("_approx"),
    )
    cand = _top_rows(
        approx, query_id_col, k * rerank_factor, "_approx", "_r"
    ).select(query_id_col, "neighbor_id")
    # candidates are Q·k·rerank rows: broadcast them against the vectors
    exact = (
        vectors.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), query_id_col)
        .select(
            query_id_col,
            "neighbor_id",
            cosine_expr("_nvec", "_qvec").alias("cosine"),
        )
    )
    return _top_rows(exact, query_id_col, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) search: assign each corpus
    vector to its nearest k-means cell, have each query probe its
    ``n_probe`` nearest cells, rerank cosine inside the probed cells only.

    Complexity per query is O(n_probe/n_cells · N) instead of O(N); the
    probed-cell equi-join is the same shuffle shape as a plain key join, so
    it scales exactly like any bucketed join. Recall is tuned by n_probe
    (probing all cells degenerates to exact search). The corpus is
    assigned by the Arrow ranking kernel, the queries by the JVM
    :func:`_probe_cells`.
    """
    if centroids is None:
        centroids = ivf_centroids(corpus, n_cells=n_cells, id_col=id_col, vec_col=vec_col)
    return _serve(
        _code(corpus, centroids, None, id_col, vec_col), centroids, None,
        queries, k, n_probe, 0, id_col, vec_col, query_id_col,
    )


def _ivf_rerank(
    cells: DataFrame,
    q_probes: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Exact cosine rerank of the vectors in each query's probed cells."""
    scored = (
        cells.join(F.broadcast(q_probes), "cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            cosine_expr(vec_col, "_qvec").alias("cosine"),
        )
    )
    return _top_rows(scored, query_id_col, k)


# ---------------------------------------------------------------------------
# Product quantization (PQ — Jégou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011): split the vector into ``m``
# subspaces, k-means each subspace into ``n_codes`` centroids, store each
# corpus vector as m small codes. At 64-dim float32 with m=8, n_codes=16
# that is 8 bytes/vector instead of 256 — a 32× smaller corpus scan, which
# is THE lever at 100 TB: candidate generation reads codes + a broadcast
# codebook (m·n_codes·dsub floats), never the raw vectors. Scoring against
# the reconstruction is exactly the ADC (asymmetric distance computation)
# estimate; the true vectors are touched only for the final
# ``k·rerank_factor`` candidates per query (a metadata-sized join).
# ---------------------------------------------------------------------------


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 512,
    iters: int = 8,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks on a capped, deterministic corpus
    sample (:func:`_train_models`). Returns m codebooks of n_codes ×
    (dim/m) floats; requires dim % m == 0.
    """
    return _train_models(
        corpus, None, m, n_codes, id_col, vec_col, sample, iters, seed
    )[1]


def _pq_encode_udf(codebooks: list[list[list[float]]]):
    """Vectorized encoder ``vec -> array<int>`` of m codes: per subspace,
    one |x|²-2x·c+|c|² matmul + argmin over the Arrow batch. Codebooks
    travel in the task closure (m·n_codes·dsub floats — tiny)."""
    B = np.asarray(codebooks, dtype=np.float64)  # m × n_codes × dsub
    m, _, dsub = B.shape
    norms = (B**2).sum(axis=2)  # m × n_codes

    @F.pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        Xs = X.reshape(X.shape[0], m, dsub)
        codes = np.empty((X.shape[0], m), dtype=np.int32)
        for j in range(m):
            d2 = -2.0 * (Xs[:, j, :] @ B[j].T) + norms[j]  # |x|² constant per argmin row
            codes[:, j] = np.argmin(d2, axis=1)
        return pd.Series([row.tolist() for row in codes])

    return encode


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Compress the corpus to ``(id_col, pq_codes array<int>)`` — the
    persistable 32×-smaller table candidate generation scans."""
    encode = _pq_encode_udf(codebooks)
    return corpus.select(id_col, encode(vec_col).alias("pq_codes"))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k via PQ: encode the corpus to m-byte codes, score
    queries against reconstructions (= ADC), keep ``k·rerank_factor``
    candidates per query, then rerank exactly on the true vectors of just
    those candidates. Output matches the exact searcher's shape:
    (query_id, neighbor_id, cosine, rank) with exact cosines.
    """
    if codebooks is None:
        codebooks = pq_codebooks(
            corpus, m=m, n_codes=n_codes, id_col=id_col, vec_col=vec_col
        )
    return _serve(
        _code(corpus, None, codebooks, id_col, vec_col), None, codebooks,
        queries, k, 0, rerank_factor, id_col, vec_col, query_id_col,
    )


# ---------------------------------------------------------------------------
# Composite IVF-PQ (Jégou et al. 2011 §V, the FAISS ``IVFPQ`` shape): the
# coarse quantizer routes each vector to a cell, and PQ codes the RESIDUAL
# vector − centroid[cell] (residuals concentrate near zero, so the same
# code budget quantizes them much more finely than raw vectors). At 100 TB
# this is THE serving geometry: candidate generation reads ONLY the probed
# cells' code columns — n_probe/n_cells of the corpus at m bytes/vector —
# and the true embeddings are touched for just the k·rerank_factor
# finalists per query. Without codebooks it is IVF (probed cells reranked
# exactly); without centroids it is PQ (raw vectors coded). One coder and
# one serve tail cover all three shapes, branching on which models exist.
# ---------------------------------------------------------------------------


def _code(
    corpus: DataFrame,
    centroids: list[list[float]] | None,
    codebooks: list[list[list[float]]] | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Distributed coding pass: ``(vec_id, embedding)`` plus ``cell``
    (nearest centroid) iff there are centroids and ``pq_codes`` iff there
    are codebooks — of the residual to ``_cents[cell]`` when both exist.
    The residual is a JVM ``zip_with`` against the broadcast
    :func:`_model_table`; only the ranking and the encoder are
    Arrow-batched UDFs."""
    coded = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    if centroids is not None:
        ranking = _cell_ranking_udf(centroids)
        coded = coded.withColumn("cell", F.element_at(ranking("embedding"), 1))
    if codebooks is None:
        return coded
    encode = _pq_encode_udf(codebooks)
    if centroids is None:
        return coded.withColumn("pq_codes", encode("embedding"))
    resid = F.expr("zip_with(embedding, _cents[cell], (x, y) -> CAST(x AS DOUBLE) - y)")
    return coded.crossJoin(
        F.broadcast(_model_table(corpus.sparkSession, centroids))
    ).select("vec_id", "embedding", "cell", encode(resid).alias("pq_codes"))


def _serve(
    coded: DataFrame,
    centroids: list[list[float]] | None,
    codebooks: list[list[list[float]]] | None,
    queries: DataFrame,
    k: int,
    n_probe: int,
    rerank_factor: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Serve tail over a :func:`_code`-shaped table. The models ride one
    broadcast row (:func:`_model_table`) and queries rank their
    ``n_probe`` cells against it in the JVM (:func:`_probe_cells`), so no
    Python worker runs here.

    - Centroids only (IVF): exact rerank of the probed cells' vectors.
    - Codebooks: each coded row is reconstructed ONCE (plus
      ``centroid[cell]`` for IVF-PQ) with its squared norm, ADC-scored
      and the ``k·rerank_factor`` finalists reranked exactly
      (:func:`_adc_rerank`). With centroids only the probed cells' rows
      are read — ``(vec_id, cell, pq_codes)``, never the embedding — via
      a left-semi join, spread first when the coded table is smaller
      than the session's parallelism (``spread_small_input``) so the pair
      scoring runs on every core."""
    from airflow_postgres_csv_spark.operators.localframe import spread_small_input

    model = _model_table(coded.sparkSession, centroids, codebooks)
    q = _query_side(queries, id_col, vec_col, query_id_col)
    q_probes = None if centroids is None else _probe_cells(q, model, n_probe)
    if codebooks is None:
        return _ivf_rerank(coded, q_probes, k, "vec_id", "embedding", query_id_col)
    if q_probes is None:
        rows = coded.select("vec_id", "pq_codes")
    else:
        rows = spread_small_input(
            coded.select("vec_id", "cell", "pq_codes")  # embeddings pruned
        ).join(F.broadcast(q_probes.select("cell")), "cell", "left_semi")
    return _adc_rerank(
        _pq_reconstruct(rows, model, "vec_id"),
        q,
        coded.select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_nvec")
        ),
        k, rerank_factor, "vec_id", query_id_col, q_probes,
    )


# ---------------------------------------------------------------------------
# Persisted ANN index (build once / serve many): at 100 TB retraining a
# quantizer and re-assigning every vector PER QUERY is the dominant cost —
# the serving shape is an index TABLE built once and scanned by every
# search. The coded corpus (cell assignments and/or PQ codes) is committed
# as a versioned snapshot table (operators/snapshots.py) and the tiny
# models (centroids / codebooks — k·d floats) ride the commit's manifest
# metadata, so index generations are atomic, time-travelable, and a search
# runs ZERO training jobs: one manifest read recovers the models, the
# coded table is scanned with the snapshot reader (cell-clustered commits
# give commit-level pruning on the cell column for free). A RECALL PROBE
# SET can be pinned at build time (probe_queries=N): N corpus vectors plus
# their exact top-k, stored in the manifest, let ann_derive_settings
# auto-tune n_probe / rerank_factor for a requested recall floor with
# zero training jobs and zero corpus-wide exact scans at derive time.
# ---------------------------------------------------------------------------


def _build_probe_set(
    corpus: DataFrame, id_col: str, vec_col: str, probe_queries: int, probe_k: int
) -> dict:
    """Recall probe set pinned at BUILD time: the ``probe_queries``
    lowest-id corpus vectors (deterministic) with their EXACT cosine
    top-k. One brute-force pass at build (where a training job already
    runs anyway); metadata-sized forever after — q vectors + q·k ids in
    the manifest. ``ann_derive_settings`` replays searches against it to
    auto-tune serve knobs for a recall floor without ever touching the
    corpus exactly again.

    Lists are stored at ``depth = 2·k`` WITH their cosines, so index
    mutations can keep them exact without corpus scans: a delete prunes
    evicted members (an exact top-L prefix minus a member is the exact
    top-(L-1) of the post-delete corpus) and only recomputes a query
    whose list fell below k; an append merges a batch-only exact
    top-depth (O(batch) work) into the stored lists by cosine."""
    depth = 2 * probe_k
    probes = corpus.select(id_col, vec_col).orderBy(id_col).limit(probe_queries)
    exact = topk_cosine_bruteforce(
        corpus, probes, k=depth, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id", "cosine", "rank")
    by_q: dict = {}
    for r in exact.collect():
        by_q.setdefault(r.query_id, []).append(
            (r.rank, [int(r.neighbor_id), float(r.cosine)])
        )
    vecs = {r[0]: [float(x) for x in r[1]] for r in probes.collect()}
    return {
        "k": probe_k,
        "depth": depth,
        "queries": [
            {
                "id": qid,
                "vec": vecs[qid],
                "exact": [e for _, e in sorted(by_q.get(qid, []))],
            }
            for qid in sorted(vecs)
        ],
    }


def _probe_set(meta: dict, index_root: str) -> dict | None:
    """The index's pinned probe set, or None when it has none. Its exact
    lists must be ``[id, cosine]`` pairs: an id-only list carries no
    cosines to merge or prune by, so it is refused rather than guessed."""
    ps = meta.get("probe_set")
    if ps and not all(
        isinstance(e, (list, tuple)) and len(e) == 2
        for q in ps["queries"] for e in q["exact"]
    ):
        raise ValueError(
            f"{index_root}: the probe set stores id-only exact lists; "
            "rebuild the index with probe_queries=N"
        )
    return ps or None


def _exact_pairs_by_query(
    corpus: DataFrame, probes_df: DataFrame, depth: int
) -> dict:
    """query_id -> exact top-``depth`` [(neighbor_id, cosine), ...] of
    ``probes_df`` (vec_id, embedding) against ``corpus``."""
    rows = topk_cosine_bruteforce(
        corpus, probes_df, k=depth, id_col="vec_id", vec_col="embedding"
    ).select("query_id", "neighbor_id", "cosine", "rank").collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(
            (r.rank, (int(r.neighbor_id), float(r.cosine)))
        )
    return {q: [p for _, p in sorted(v)] for q, v in by_q.items()}


def _probes_df(spark: SparkSession, entries: list) -> DataFrame:
    from airflow_postgres_csv_spark.operators.localframe import arrow_local_df

    return arrow_local_df(
        spark,
        [(q["id"], q["vec"]) for q in entries],
        "vec_id bigint, embedding array<double>",
    )


def _probe_set_after_delete(
    spark: SparkSession, index_root: str, ps: dict, deleted_ids: set
) -> dict:
    """The probe set ``ps`` repaired for the POST-delete corpus.
    Metadata-only in the common case: deleting a vector that is in no
    stored exact list cannot change any list (deletion only removes
    candidates), and pruning a deleted member from an exact prefix
    leaves an exact (shorter) prefix. Only queries whose pruned list
    fell below k are recomputed, against the anti-joined head state, in
    ONE probe-sized brute-force pass."""
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_read

    k = int(ps["k"])
    depth = int(ps.get("depth", k))
    entries = [dict(q) for q in ps["queries"]]
    depleted = []
    for q in entries:
        q["exact"] = [
            [int(n), float(c)] for n, c in q["exact"] if int(n) not in deleted_ids
        ]
        if len(q["exact"]) < k:
            depleted.append(q)
    if depleted:
        post = snapshot_read(spark, index_root).select("vec_id", "embedding")
        post = post.filter(~F.col("vec_id").isin(list(deleted_ids)))
        fresh = _exact_pairs_by_query(post, _probes_df(spark, depleted), depth)
        for q in depleted:
            q["exact"] = [[n, c] for n, c in fresh.get(q["id"], [])]
    return {"k": k, "depth": depth, "queries": entries}


def _probe_set_after_append(
    corpus_new: DataFrame, ps: dict, id_col: str, vec_col: str
) -> dict:
    """The probe set ``ps`` extended for the appended batch. O(batch):
    the probe queries' exact top-depth WITHIN the batch is computed
    (batch-sized scan), then merged driver-side with the stored lists by
    cosine. The merged prefix stays exact up to min(stored length, batch
    coverage) — any union-corpus top-m member is in the stored top-m or
    the batch top-m for m ≤ both."""
    spark = corpus_new.sparkSession
    k = int(ps["k"])
    depth = int(ps.get("depth", 2 * k))
    entries = [dict(q) for q in ps["queries"]]
    batch = corpus_new.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    batch_top = _exact_pairs_by_query(batch, _probes_df(spark, entries), depth)
    for q in entries:
        old = [(int(n), float(c)) for n, c in q["exact"]]
        new = batch_top.get(q["id"], [])
        merged = sorted(set(old) | set(new), key=lambda p: (-p[1], p[0]))
        # exact-prefix length = len(old): a union-corpus top-m member is
        # in the stored top-m (needs m <= len(old)) or the batch top-m
        # (guaranteed — the batch list is depth-deep, and depth >= len(old))
        q["exact"] = [[n, c] for n, c in merged[: len(old)]]
    return {"k": k, "depth": depth, "queries": entries}


def _index_head(index_root: str, version: int | None = None) -> tuple[int, dict]:
    """(version, ``ann_index`` metadata) of the addressed index
    generation — the head when ``version`` is None. One manifest read;
    raises ``FileNotFoundError`` when nothing was built at the root and
    ``ValueError`` when the manifest carries no ANN index."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        _load_manifest,
        snapshot_versions,
    )

    if version is None:
        versions = snapshot_versions(index_root)
        if not versions:
            raise FileNotFoundError(f"no index at {index_root}; build first")
        version = versions[-1]
    meta = _load_manifest(index_root, version).get("ann_index")
    if not meta:
        raise ValueError(f"{index_root} v{version} is not a persisted ANN index")
    return version, meta


def _cell_layout(meta: dict) -> list[str] | None:
    """Commits of an index with centroids are range-clustered on ``cell``."""
    return ["cell"] if "centroids" in meta else None


def ivfpq_build_index(
    corpus: DataFrame,
    index_root: str,
    n_cells: int | None = 16,
    m: int | None = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 512,
    iters: int = 8,
    seed: int = 42,
    probe_queries: int = 0,
    probe_k: int = 5,
) -> dict:
    """Build and PERSIST an ANN index: one training pass (driver-side on
    a capped sample, :func:`_train_models`), one distributed coding pass
    (:func:`_code`), one snapshot commit of ``(vec_id, embedding[, cell]
    [, pq_codes])`` with the models in the manifest's ``ann_index`` key
    inside the same atomic publish, so a reader can never see a coded
    corpus without the exact models that coded it. Rebuilds are new
    versions: searches pinned to an old version stay consistent, and the
    superseded generation expires with ``snapshot_expire``.

    ``n_cells=None`` drops the coarse quantizer (a PQ index over raw
    vectors); ``m=None`` drops the codes (an IVF index whose probed
    cells are reranked exactly). The manifest records the shape as
    ``kind`` ``"ivf"``, ``"pq"`` or ``"ivfpq"``. With centroids the
    commit is range-clustered on ``cell``, so probed cells prune at the
    COMMIT level before any sidecar read."""
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_commit

    centroids, codebooks = _train_models(
        corpus, n_cells, m, n_codes, id_col, vec_col, sample, iters, seed
    )
    kind = "ivf" if codebooks is None else "pq" if centroids is None else "ivfpq"
    models = {"centroids": centroids, "codebooks": codebooks}
    meta = {
        "kind": kind,
        **({} if centroids is None else {"n_cells": n_cells}),
        **({} if codebooks is None else {"m": m, "n_codes": n_codes}),
        "seed": seed,
        **{key: v for key, v in models.items() if v is not None},
    }
    if probe_queries:
        meta["probe_set"] = _build_probe_set(
            corpus, id_col, vec_col, probe_queries, probe_k
        )
    return snapshot_commit(
        _code(corpus, centroids, codebooks, id_col, vec_col),
        index_root, mode="overwrite", partition_by=_cell_layout(meta),
        extra={"ann_index": meta},
    )


def ivfpq_index_append(
    corpus_new: DataFrame,
    index_root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra: dict | None = None,
) -> dict:
    """Incrementally extend a persisted ANN index of any shape: code the
    NEW vectors with the FROZEN models (no retraining — the models are
    frozen per index generation) and append their coded rows as one
    commit pinned to the head whose models it used (``expected_head``: a
    concurrent rebuild conflicts instead of mixing generations). The
    ingest path of a streaming embedding pipeline: O(batch) work per
    append, and searches see old + new vectors through the same serve
    path. ``extra`` (a streaming batch stamp) rides the same publish."""
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_commit

    v, meta = _index_head(index_root)
    coded = _code(
        corpus_new, meta.get("centroids"), meta.get("codebooks"), id_col, vec_col
    )
    ps = _probe_set(meta, index_root)
    if ps:
        meta = {
            **meta,
            "probe_set": _probe_set_after_append(corpus_new, ps, id_col, vec_col),
        }
    return snapshot_commit(
        coded, index_root, mode="append", partition_by=_cell_layout(meta),
        extra={**(extra or {}), "ann_index": meta},
        expected_head=v,
    )


def ivfpq_search_index(
    spark: SparkSession,
    index_root: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    version: int | None = None,
) -> DataFrame:
    """Search a persisted ANN index: models from the pinned manifest (one
    JSON read — NO training job, no Python worker, the corpus-side coder
    never runs), served by :func:`_serve` against the STORED coding.
    ``n_probe`` applies when the index has centroids, ``rerank_factor``
    when it has codebooks. For IVF-PQ, candidate generation scans ONLY
    (vec_id, cell, pq_codes) of the probed cells (column pruning ×
    commit-level cell pruning), ADC scores against centroid + decoded
    residual, and the exact rerank touches true vectors for the
    ``k·rerank_factor`` finalists. Same output contract as the in-memory
    searchers (:func:`ivf_topk`, :func:`pq_topk`)."""
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_read

    v, meta = _index_head(index_root, version)
    return _serve(
        snapshot_read(spark, index_root, version=v),
        meta.get("centroids"), meta.get("codebooks"), queries,
        k, n_probe, rerank_factor, id_col, vec_col, query_id_col,
    )


def ann_index_delete(
    spark: SparkSession, index_root: str, vec_ids: list
) -> dict:
    """Remove vectors from a persisted ANN index WITHOUT rewriting the
    coded corpus or touching the frozen models — the mirror of
    ``text_index_delete`` for ANN indexes (a dedup pass that evicts
    corpus docs must be able to evict their vectors without a rebuild,
    or stale neighbors serve forever).

    One merge-on-read equality tombstone on ``vec_id``, published
    atomically with the UNCHANGED ``ann_index`` model metadata carried
    forward (centroids/codebooks are frozen per generation — deletion
    never retrains; ANN has no corpus-level stats to decrement, unlike
    BM25's n_docs/avgdl). ``ivfpq_search_index`` reads the coded table
    through ``snapshot_read``, which applies the tombstone as a
    broadcast anti-join — deleted vectors leave candidate generation AND
    the exact rerank in the same version step, and a search pinned to
    the pre-delete version still sees them (MVCC). ``snapshot_compact``
    folds the tombstone into a clean rewrite later. Cost: one scan to
    resolve the condition, O(deleted keys) bytes, zero data files
    rewritten.

    The pinned recall probe set is repaired in the SAME commit (deleted
    vectors pruned from the stored exact lists; a list that fell below k
    is recomputed against the post-delete state), so a later
    ``ann_derive_settings`` tunes against the live corpus, never a
    drifted reference."""
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_delete_mor

    _, meta = _index_head(index_root)
    ids = sorted(set(vec_ids))
    if not ids or not all(isinstance(i, int) for i in ids):
        raise ValueError("ann_index_delete: vec_ids must be non-empty ints")
    ps = _probe_set(meta, index_root)
    if ps:
        meta = {
            **meta,
            "probe_set": _probe_set_after_delete(spark, index_root, ps, set(ids)),
        }
    id_list = ", ".join(str(i) for i in ids)
    return snapshot_delete_mor(
        spark, index_root,
        condition=f"vec_id IN ({id_list})", key_col="vec_id",
        extra={"ann_index": meta},
    )


def ann_derive_settings(
    spark: SparkSession,
    index_root: str,
    recall_floor: float = 0.9,
    version: int | None = None,
) -> dict:
    """Auto-derive the serve-time quality knob for a requested recall
    floor — today callers guess ``n_probe``/``rerank_factor``; this
    answers it from the index's pinned probe set.

    Walks the knob up a doubling ladder (``n_probe`` when the index has
    centroids, ``rerank_factor`` otherwise), replaying the manifest's
    probe queries through the NORMAL serve path at each step and
    measuring recall against the stored exact top-k, stopping at the
    first setting that meets the floor. Cost: a handful of probe-sized
    index searches — ZERO training jobs (the quantizer stays frozen;
    pinned by a monkeypatch bomb in tests/test_dedup_similarity.py) and
    zero exact corpus scans (the exact sets were pinned at build).
    Returns ``{"kind", "knob", "<knob>", "recall", "met", "evaluated"}``;
    ``met=False`` means even the max setting missed the floor (the
    honest answer — raise k, rebuild with more cells, or lower the
    floor). FAISS analog: ``ParameterSpace`` auto-tuning, re-expressed
    over the persisted-index serve path."""
    v, meta = _index_head(index_root, version)
    ps = _probe_set(meta, index_root)
    if not ps:
        raise ValueError(
            f"{index_root} has no probe set — rebuild with probe_queries=N"
        )
    k = int(ps["k"])
    probes = _probes_df(spark, ps["queries"])
    exact = {q["id"]: {int(n) for n, _ in q["exact"][:k]} for q in ps["queries"]}
    total = sum(len(s) for s in exact.values())
    kind = meta.get("kind")
    if "centroids" in meta:
        knob, cap = "n_probe", int(meta["n_cells"])
    else:
        knob, cap = "rerank_factor", 16
    ladder = []
    val = 1
    while val < cap:
        ladder.append(val)
        val *= 2
    ladder.append(cap)
    evaluated = []
    for val in ladder:
        ann = ivfpq_search_index(
            spark, index_root, probes, k=ps["k"], version=v, **{knob: val}
        )
        hits = sum(
            1
            for r in ann.select("query_id", "neighbor_id").collect()
            if r.neighbor_id in exact.get(r.query_id, ())
        )
        recall = hits / total if total else 1.0
        evaluated.append({knob: val, "recall": recall})
        if recall >= recall_floor:
            return {
                "kind": kind, "knob": knob, knob: val, "recall": recall,
                "floor": recall_floor, "met": True, "evaluated": evaluated,
            }
    return {
        "kind": kind, "knob": knob, knob: ladder[-1],
        "recall": evaluated[-1]["recall"], "floor": recall_floor,
        "met": False, "evaluated": evaluated,
    }
