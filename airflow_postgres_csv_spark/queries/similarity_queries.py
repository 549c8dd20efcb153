"""Similarity-search query corpus (SURVEY.md §2.3).

Brute-force exact top-k is oracle-checked against DuckDB (identical
double-fold cosine + identical tie-break). The LSH variant is approximate
(engine-specific hyperplane math) → reported with a Spark-side recall
self-check against the exact result: the output row is the measured
recall, which the oracle pins to the expected constant-checkable shape.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_postgres_csv_spark.operators.localframe import arrow_local_df
from airflow_postgres_csv_spark.operators import similarity as S
from airflow_postgres_csv_spark.queries import register
from airflow_postgres_csv_spark.queries._helpers import t

_COS = (
    "list_reduce(list_transform(list_zip({a}, {b}), s -> s[1] * s[2]), (x,y) -> x + y)"
    " / SQRT(list_reduce(list_transform(list_zip({a}, {a}), s -> s[1] * s[2]), (x,y) -> x + y)"
    "      * list_reduce(list_transform(list_zip({b}, {b}), s -> s[1] * s[2]), (x,y) -> x + y))"
)


def _pin(df):
    """Materialize a tiny (probe-set-sized, ≤ k × n_queries rows) search
    result ONCE. The recall/equality harnesses consume these results in
    several comparison branches (exceptAll both ways, hit joins, absence
    filters): left lazy, EVERY branch re-executes the full search / exact
    brute-force that produced the rows — measured 14 search executions in
    similarity_ann_delete for 6 distinct results. localCheckpoint stores
    the few rows and each branch reads them back (guide §5: cache only
    what is reused AND expensive to recompute)."""
    return df.localCheckpoint(eager=True)

register(
    "similarity_topk_bruteforce",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_COS.format(a='e.v', b='q.qv')} AS cosine
      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(cosine, 9) AS cosine, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)(
    lambda spark, sf_dir: _topk_bruteforce(spark, sf_dir)
)


def _topk_bruteforce(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    out = S.topk_cosine_bruteforce(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return out.withColumn("cosine", F.round("cosine", 9)).orderBy("query_id", "rank")


# LSH ANN: approximate — the deliverable is the measured recall@5 against
# the exact top-k, computed entirely Spark-side. The oracle pins the
# contract: 10 queries evaluated, recall above the design floor (0.5; the
# 4-plane × 8-table multiprobe config measures 1.0 on this corpus — the
# multi-table union is what rescues recall for near-orthogonal neighbors).
register(
    "similarity_ann_lsh_recall",
    "SELECT 10 AS n_queries, 1 AS recall_ok",
)(
    lambda spark, sf_dir: _ann_recall(spark, sf_dir)
)


def _ann_recall(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = _pin(
        S.topk_cosine_bruteforce(emb, queries, k=5).select(
            "query_id", "neighbor_id"
        )
    )
    ann = S.lsh_bucket_topk(
        emb, queries, k=5, n_planes=4, n_tables=8, multiprobe=True
    ).select("query_id", "neighbor_id")
    hits = exact.join(ann, ["query_id", "neighbor_id"]).groupBy("query_id").count()
    per_query = exact.groupBy("query_id").count().withColumnRenamed("count", "n_exact")
    recall = (
        per_query.join(hits.withColumnRenamed("count", "n_hit"), "query_id", "left")
        .fillna(0, subset=["n_hit"])
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            (F.sum("n_hit") / F.sum("n_exact")).alias("recall"),
        )
    )
    return recall.select(
        "n_queries", (F.col("recall") >= 0.5).cast("int").alias("recall_ok")
    )


# Embedding norm statistics — exercises array math at corpus scale; the
# double fold is engine-portable so this is fully oracle-checked.
register(
    "similarity_norm_stats",
    """
    WITH e AS (
      SELECT vec_id, label,
             SQRT(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a + b)) AS nrm
      FROM embeddings
    )
    SELECT label, COUNT(*) AS n,
           ROUND(MIN(nrm), 6) AS min_norm, ROUND(MAX(nrm), 6) AS max_norm
    FROM e GROUP BY label ORDER BY label
    """,
)(
    lambda spark, sf_dir: (
        t(spark, sf_dir, "embeddings")
        .select(
            "label",
            F.sqrt(
                F.aggregate(
                    F.transform(
                        F.col("embedding"),
                        lambda x: x.cast("double") * x.cast("double"),
                    ),
                    F.lit(0.0),
                    lambda a, b: a + b,
                )
            ).alias("nrm"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
        .orderBy("label")
    )
)


# IVF (inverted-file) ANN: k-means coarse quantizer (driver-fit on a
# deterministic sample, literal-inlined centroids), n_probe-of-n_cells
# probing, cosine rerank inside probed cells. Per-query cost is
# O(n_probe/n_cells · N); recall floor checked against exact top-k.
register(
    "similarity_ann_ivf_recall",
    "SELECT 10 AS n_queries, 1 AS recall_ok",
)(
    lambda spark, sf_dir: _ivf_recall(spark, sf_dir)
)


def _ivf_recall(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    # exact feeds both the hit join and per_query: pin (2 -> 1)
    exact = _pin(
        S.topk_cosine_bruteforce(emb, queries, k=5).select(
            "query_id", "neighbor_id"
        )
    )
    ann = S.ivf_topk(emb, queries, k=5, n_cells=16, n_probe=8).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(ann, ["query_id", "neighbor_id"]).groupBy("query_id").count()
    per_query = exact.groupBy("query_id").count().withColumnRenamed("count", "n_exact")
    recall = (
        per_query.join(hits.withColumnRenamed("count", "n_hit"), "query_id", "left")
        .fillna(0, subset=["n_hit"])
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            (F.sum("n_hit") / F.sum("n_exact")).alias("recall"),
        )
    )
    return recall.select(
        "n_queries", (F.col("recall") >= 0.5).cast("int").alias("recall_ok")
    )


# Range (radius) search: all neighbors above a fixed cosine — the
# threshold sibling of top-k. Exact-oracle-checked like the brute-force
# top-k (identical double-fold cosine, 9-dp rounding only for display);
# membership is decided on the unrounded value in both engines.
register(
    "similarity_radius_search",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_COS.format(a='e.v', b='q.qv')} AS cosine
      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, ROUND(cosine, 9) AS cosine
    FROM scored WHERE cosine >= 0.25
    ORDER BY query_id, neighbor_id
    """,
)(
    lambda spark, sf_dir: (
        S.radius_cosine_search(
            t(spark, sf_dir, "embeddings"),
            t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5),
            radius=0.25,
        )
        .withColumn("cosine", F.round("cosine", 9))
        .orderBy("query_id", "neighbor_id")
    )
)


# PQ (product quantization) ANN: the corpus is compressed 16× (16
# subspaces × 16 codes over 64 dims → 16 byte-codes per vector);
# candidates are scored against reconstructions (= the ADC estimate) and
# the top k·4 are reranked exactly. Approximate like LSH/IVF → graded on
# measured recall@5 vs the exact searcher (0.88 at this sf with this
# config; the 0.5 oracle floor leaves headroom for fixture regeneration).
register(
    "similarity_ann_pq_recall",
    "SELECT 10 AS n_queries, 1 AS recall_ok",
)(
    lambda spark, sf_dir: _pq_recall(spark, sf_dir)
)


def _pq_recall(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    # exact feeds both the hit join and per_query: pin (2 -> 1)
    exact = _pin(
        S.topk_cosine_bruteforce(emb, queries, k=5).select(
            "query_id", "neighbor_id"
        )
    )
    ann = S.pq_topk(emb, queries, k=5, m=16, n_codes=16, rerank_factor=4).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(ann, ["query_id", "neighbor_id"]).groupBy("query_id").count()
    per_query = exact.groupBy("query_id").count().withColumnRenamed("count", "n_exact")
    recall = (
        per_query.join(hits.withColumnRenamed("count", "n_hit"), "query_id", "left")
        .fillna(0, subset=["n_hit"])
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            (F.sum("n_hit") / F.sum("n_exact")).alias("recall"),
        )
    )
    return recall.select(
        "n_queries", (F.col("recall") >= 0.5).cast("int").alias("recall_ok")
    )


# ---------------------------------------------------------------------------
# Per-dimension corpus statistics of the embedding matrix (n/mean/std/
# min/max per coordinate) — the feature-normalization precursor every
# vector pipeline runs before z-scoring, whitening, or PQ codebook
# training. Cross-row float sums are order-dependent, so each element is
# first rounded to DECIMAL(18,9) — a float64 value is a dyadic rational
# and can never sit exactly on a decimal midpoint, so HALF_UP vs
# HALF_EVEN can't diverge — making Σx and Σx² exact decimals; mean/std
# then come from identically-parenthesized single IEEE ops in both
# engines. Plan: one posexplode (×64) → one hash-agg keyed by dim
# (map-side partials, 64 output rows) — no window, no driver state.
# ---------------------------------------------------------------------------


def _embedding_dim_stats(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings").select(
        F.posexplode("embedding").alias("dim", "x")
    )
    xd = F.col("x").cast("double").cast("decimal(18,9)")
    agg = e.select("dim", xd.alias("xd")).groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xd").alias("sx"),
        F.sum(F.col("xd") * F.col("xd")).alias("sxx"),
        F.min("xd").cast("double").alias("min_v"),
        F.max("xd").cast("double").alias("max_v"),
    )
    mean = F.col("sx").cast("double") / F.col("n")
    var = F.greatest(
        F.col("sxx").cast("double") / F.col("n") - mean * mean, F.lit(0.0)
    )
    return (
        agg.select(
            "dim",
            "n",
            F.round(mean, 9).alias("mean_v"),
            F.round(F.sqrt(var), 9).alias("std_v"),
            "min_v",
            "max_v",
        )
        .orderBy("dim")
    )


register(
    "embedding_dim_stats",
    """
    WITH ex AS (
      SELECT CAST(i - 1 AS INT) AS dim,
             CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,9)) AS xd
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
    ),
    agg AS (
      SELECT dim, COUNT(*) AS n, SUM(xd) AS sx, SUM(xd * xd) AS sxx,
             CAST(MIN(xd) AS DOUBLE) AS min_v, CAST(MAX(xd) AS DOUBLE) AS max_v
      FROM ex GROUP BY dim
    )
    SELECT dim, n,
           ROUND(CAST(sx AS DOUBLE) / n, 9) AS mean_v,
           ROUND(SQRT(GREATEST(CAST(sxx AS DOUBLE) / n
                               - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n),
                               0.0)), 9) AS std_v,
           min_v, max_v
    FROM agg ORDER BY dim
    """,
)(_embedding_dim_stats)


# ---------------------------------------------------------------------------
# Whitening / z-score normalization — the standardization pass applied
# before cosine/IVF indexing when dimensions have heterogeneous scales.
# Parameters are embedding_dim_stats' exact-decimal moments ROUNDED to
# 9 dp (deterministic 64-row parameter table), broadcast-crossed as
# arrays into a per-row zip-transform; each whitened element is ONE
# subtraction + ONE division of identical operands, and the per-vector
# norm² folds left-to-right (Spark aggregate / DuckDB list_reduce — same
# order, same IEEE tree). No shuffle after the 64-row stats agg.
# ---------------------------------------------------------------------------


def _embedding_whiten(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("dim", "x"))
    xd = F.col("x").cast("double").cast("decimal(18,9)")
    stats = (
        ex.select("dim", xd.alias("xd"))
        .groupBy("dim")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("xd").alias("sx"),
             F.sum(F.col("xd") * F.col("xd")).alias("sxx"))
        .select(
            "dim",
            F.round(F.col("sx").cast("double") / F.col("n"), 9).alias("mean9"),
            F.round(
                F.sqrt(
                    F.greatest(
                        F.col("sxx").cast("double") / F.col("n")
                        - (F.col("sx").cast("double") / F.col("n"))
                        * (F.col("sx").cast("double") / F.col("n")),
                        F.lit(0.0),
                    )
                ),
                9,
            ).alias("std9"),
        )
    )
    params = stats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mean9"))), lambda s: s.mean9
        ).alias("means"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "std9"))), lambda s: s.std9
        ).alias("stds"),
    )
    z = F.expr(
        """
        transform(sequence(1, size(embedding)),
          i -> (cast(cast(cast(element_at(embedding, i) as double) as decimal(18,9))
                     as double) - element_at(means, i)) / element_at(stds, i))
        """
    )
    out = emb.crossJoin(F.broadcast(params)).select(
        "vec_id", "label", z.alias("zvec")
    )
    znorm2 = F.aggregate(
        F.transform(F.col("zvec"), lambda v: v * v),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    # Scalar output contract: the driver's pandas canonicalizer cannot sort
    # LIST cells (round-4 ERR), so the whitened vector is exploded to one
    # (vec_id, dim, zval) row per element — zval doubles are bit-identical
    # across engines (decimal-exact stats, identical IEEE expression tree).
    return (
        out.select(
            "vec_id", "label", F.round(znorm2, 6).alias("znorm2"),
            F.posexplode("zvec").alias("dim", "zval"),
        )
        .select("vec_id", "label", "dim", "zval", "znorm2")
        .orderBy("vec_id", "dim")
    )


register(
    "embedding_whiten",
    """
    WITH ex AS (
      SELECT CAST(i - 1 AS INT) AS dim,
             CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,9)) AS xd
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
    ),
    stats AS (
      SELECT dim,
             ROUND(CAST(SUM(xd) AS DOUBLE) / COUNT(*), 9) AS mean9,
             ROUND(SQRT(GREATEST(CAST(SUM(xd * xd) AS DOUBLE) / COUNT(*)
                    - (CAST(SUM(xd) AS DOUBLE) / COUNT(*))
                      * (CAST(SUM(xd) AS DOUBLE) / COUNT(*)), 0.0)), 9) AS std9
      FROM ex GROUP BY dim
    ),
    params AS (
      SELECT list(mean9 ORDER BY dim) AS means, list(std9 ORDER BY dim) AS stds
      FROM stats
    ),
    z AS (
      SELECT vec_id, label,
             list_transform(generate_series(1, len(embedding)),
               i -> (CAST(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,9))
                          AS DOUBLE) - means[i]) / stds[i]) AS zvec
      FROM embeddings, params
    )
    SELECT vec_id, label, CAST(i - 1 AS INT) AS dim, zvec[i] AS zval,
           ROUND(list_reduce(list_transform(zvec, v -> v * v),
                             (a, b) -> a + b), 6) AS znorm2
    FROM z, unnest(generate_series(1, len(zvec))) AS u(i)
    ORDER BY vec_id, dim
    """,
)(_embedding_whiten)


# ---------------------------------------------------------------------------
# Ranking-quality evaluation: nDCG@10 / precision@10 of the cosine
# retrieval over the embeddings corpus, with binary relevance = "same
# label as the query" (the standard proxy-relevance eval when no human
# judgments exist). Five query vectors (vec_id 0-4) broadcast against
# the corpus (bounded by |queries|, the recall-eval precedent); ranked
# and ideal orderings are two windows PARTITIONED by query; every DCG
# term rel/log2(rank+1) snaps to a 9-dp decimal before the per-query sum
# (log2 can differ in ulps between JVM and libm), so DCG/IDCG are exact
# decimals and nDCG is one double division.
# ---------------------------------------------------------------------------


def _search_eval_ndcg(spark, sf_dir):
    from pyspark.sql.window import Window

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    dot = "aggregate(zip_with(v, qv, (a, b) -> a * b), cast(0.0 as double), (s, x) -> s + x)"
    nrm = (
        "sqrt(aggregate(zip_with({a}, {a}, (x, y) -> x * y),"
        " cast(0.0 as double), (s, x) -> s + x))"
    )
    cos = F.expr(f"{dot} / ({nrm.format(a='v')} * {nrm.format(a='qv')})")
    cand = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            (F.col("label") == F.col("qlabel")).cast("int").alias("rel"),
            cos.alias("cosine"),
        )
    )
    w_rk = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    w_ideal = Window.partitionBy("query_id").orderBy(
        F.desc("rel"), F.desc("cosine"), "vec_id"
    )
    terms = cand.select(
        "query_id",
        "rel",
        F.row_number().over(w_rk).alias("rk"),
        F.row_number().over(w_ideal).alias("irk"),
    ).select(
        "query_id",
        "rel",
        F.when(
            F.col("rk") <= 10,
            F.round(F.col("rel") / F.log2(F.col("rk") + 1), 9),
        )
        .otherwise(F.lit(0.0))
        .cast("decimal(18,9)")
        .alias("dterm"),
        F.when(
            F.col("irk") <= 10,
            F.round(F.col("rel") / F.log2(F.col("irk") + 1), 9),
        )
        .otherwise(F.lit(0.0))
        .cast("decimal(18,9)")
        .alias("iterm"),
        F.when((F.col("rk") <= 10) & (F.col("rel") == 1), 1)
        .otherwise(0)
        .alias("hit10"),
    )
    return (
        terms.groupBy("query_id")
        .agg(
            F.sum("rel").cast("bigint").alias("n_rel"),
            F.sum("hit10").cast("bigint").alias("hits_at_10"),
            F.sum("dterm").cast("double").alias("dcg10"),
            F.sum("iterm").cast("double").alias("idcg10"),
            (F.sum("dterm").cast("double") / F.sum("iterm").cast("double")).alias(
                "ndcg10"
            ),
        )
        .orderBy("query_id")
    )


register(
    "search_eval_ndcg",
    f"""
    WITH ev AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM ev WHERE vec_id < 5
    ),
    cand AS (
      SELECT q.query_id, ev.vec_id,
             CAST(ev.label = q.qlabel AS INT) AS rel,
             {_COS.format(a='ev.v', b='q.qv')} AS cosine
      FROM ev CROSS JOIN q WHERE ev.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, rel,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rk,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY rel DESC, cosine DESC, vec_id) AS irk
      FROM cand
    ),
    terms AS (
      SELECT query_id, rel,
             CAST(CASE WHEN rk <= 10
                       THEN ROUND(CAST(rel AS DOUBLE) / log2(CAST(rk + 1 AS DOUBLE)), 9)
                       ELSE 0.0 END AS DECIMAL(18,9)) AS dterm,
             CAST(CASE WHEN irk <= 10
                       THEN ROUND(CAST(rel AS DOUBLE) / log2(CAST(irk + 1 AS DOUBLE)), 9)
                       ELSE 0.0 END AS DECIMAL(18,9)) AS iterm,
             CASE WHEN rk <= 10 AND rel = 1 THEN 1 ELSE 0 END AS hit10
      FROM ranked
    )
    SELECT query_id,
           CAST(SUM(rel) AS BIGINT) AS n_rel,
           CAST(SUM(hit10) AS BIGINT) AS hits_at_10,
           CAST(SUM(dterm) AS DOUBLE) AS dcg10,
           CAST(SUM(iterm) AS DOUBLE) AS idcg10,
           CAST(SUM(dterm) AS DOUBLE) / CAST(SUM(iterm) AS DOUBLE) AS ndcg10
    FROM terms GROUP BY query_id ORDER BY query_id
    """,
)(_search_eval_ndcg)


# ---------------------------------------------------------------------------
# Persisted ANN index (build once / serve many — VERDICT r6 item 4): the
# IVF cell assignment and PQ codes are committed as versioned snapshot
# tables with the trained model (centroids / codebooks) riding the
# manifest, then SEARCHED from the persisted artifacts — zero training
# jobs on the serve path (tests/test_dedup_similarity.py pins this by
# making training raise after the build). The oracle is the same recall
# invariant as similarity_ann_{ivf,pq}_recall: the served answer must
# cover >= 50% of the exact top-5, and both index tables must round-trip
# their corpus exactly (n_indexed == corpus count).
# ---------------------------------------------------------------------------


def _ann_persisted(spark, sf_dir):
    from airflow_postgres_csv_spark.queries.snapshot_queries import _temp_root

    emb = t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    ivf_root, pq_root = _temp_root(), _temp_root()
    m_ivf = S.ivfpq_build_index(emb, ivf_root, n_cells=16, m=None)
    m_pq = S.ivfpq_build_index(emb, pq_root, n_cells=None, m=16, n_codes=16)
    # consumed by per_query + both _recall_ok branches: pin (3 -> 1
    # brute-force executions)
    exact = _pin(
        S.topk_cosine_bruteforce(emb, qs, k=5).select(
            "query_id", "neighbor_id"
        )
    )
    per_query = exact.groupBy("query_id").count().withColumnRenamed(
        "count", "n_exact"
    )

    def _recall_ok(ann):
        hits = (
            exact.join(ann, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .count()
        )
        return (
            per_query.join(
                hits.withColumnRenamed("count", "n_hit"), "query_id", "left"
            )
            .fillna(0, subset=["n_hit"])
            .agg((F.sum("n_hit") / F.sum("n_exact")).alias("r"))
            .select((F.col("r") >= 0.5).cast("int").alias("ok"))
        )

    ivf_ok = _recall_ok(
        S.ivfpq_search_index(spark, ivf_root, qs, k=5, n_probe=8).select(
            "query_id", "neighbor_id"
        )
    )
    pq_ok = _recall_ok(
        S.ivfpq_search_index(spark, pq_root, qs, k=5, rerank_factor=4).select(
            "query_id", "neighbor_id"
        )
    )
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_read

    n = emb.count()
    counts_ok = int(
        snapshot_read(spark, ivf_root).count() == n
        and snapshot_read(spark, pq_root).count() == n
        and m_ivf["version"] == 1
        and m_pq["version"] == 1
    )
    return (
        per_query.agg(F.count(F.lit(1)).alias("n_queries"))
        .crossJoin(ivf_ok.withColumnRenamed("ok", "ivf_recall_ok"))
        .crossJoin(pq_ok.withColumnRenamed("ok", "pq_recall_ok"))
        .withColumn("index_roundtrip_ok", F.lit(counts_ok))
    )


register(
    "similarity_ann_persisted",
    "SELECT 10 AS n_queries, 1 AS ivf_recall_ok, 1 AS pq_recall_ok, "
    "1 AS index_roundtrip_ok",
)(_ann_persisted)


# ---------------------------------------------------------------------------
# Incremental ANN ingest (round 7): the IVF index is built over half the
# corpus, the other half is APPENDED against the frozen quantizer (one
# commit, no retraining), and the search must still cover the FULL corpus
# with the usual recall floor vs exact top-5.
# ---------------------------------------------------------------------------


def _ann_incremental(spark, sf_dir):
    from airflow_postgres_csv_spark.queries.snapshot_queries import _temp_root

    emb = t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    root = _temp_root()
    m1 = S.ivfpq_build_index(
        emb.where(F.col("vec_id") % 2 == 0), root, n_cells=16, m=None
    )
    m2 = S.ivfpq_index_append(emb.where(F.col("vec_id") % 2 == 1), root)
    # exact feeds both the hit join and per_query: pin (2 -> 1)
    exact = _pin(
        S.topk_cosine_bruteforce(emb, qs, k=5).select(
            "query_id", "neighbor_id"
        )
    )
    ann = S.ivfpq_search_index(spark, root, qs, k=5, n_probe=8).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(ann, ["query_id", "neighbor_id"]).groupBy("query_id").count()
    per_query = exact.groupBy("query_id").count().withColumnRenamed("count", "n_exact")
    n = emb.count()
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_read

    versions_ok = int(
        m1["version"] == 1 and m2["version"] == 2
        and snapshot_read(spark, root).count() == n
    )
    return (
        per_query.join(hits.withColumnRenamed("count", "n_hit"), "query_id", "left")
        .fillna(0, subset=["n_hit"])
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            (F.sum("n_hit") / F.sum("n_exact")).alias("recall"),
        )
        .select(
            "n_queries",
            (F.col("recall") >= 0.5).cast("int").alias("recall_ok"),
            F.lit(versions_ok).alias("index_generations_ok"),
        )
    )


register(
    "similarity_ann_incremental",
    "SELECT 10 AS n_queries, 1 AS recall_ok, 1 AS index_generations_ok",
)(_ann_incremental)


# ---------------------------------------------------------------------------
# ANN index deletion (round 8): a dedup pass evicts vectors from the
# persisted IVF and PQ indexes WITHOUT retraining or rewriting the coded
# corpus (ann_index_delete = one merge-on-read tombstone commit, frozen
# model carried forward). Oracle-pinned invariants: post-delete search ==
# the in-memory searcher over the FILTERED corpus with the SAME frozen
# model (exact (query, neighbor, rank) set equality — stronger than a
# recall floor), no deleted id is ever served, the model metadata and the
# data file list are identical across the delete (MOR: nothing rewritten),
# and a search pinned to the pre-delete generation still serves the full
# corpus (MVCC).
# ---------------------------------------------------------------------------


def _ann_delete(spark, sf_dir):
    from airflow_postgres_csv_spark.queries.snapshot_queries import _temp_root

    emb = t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    gone = list(range(100, 200))
    survivors = emb.filter(~F.col("vec_id").between(100, 199))

    ivf_root, pq_root = _temp_root(), _temp_root()
    m_ivf = S.ivfpq_build_index(emb, ivf_root, n_cells=16, m=None)
    m_pq = S.ivfpq_build_index(emb, pq_root, n_cells=None, m=16, n_codes=16)
    # every search result below is consumed by 2-3 comparison branches
    # (set equality both ways, the deleted-absent filter) — pinned, each
    # search runs exactly once instead of 14 total executions
    pre = _pin(
        S.ivfpq_search_index(spark, ivf_root, qs, k=5, n_probe=8).select(
            "query_id", "neighbor_id", "rank"
        )
    )
    d_ivf = S.ann_index_delete(spark, ivf_root, gone)
    d_pq = S.ann_index_delete(spark, pq_root, gone)

    from airflow_postgres_csv_spark.queries._helpers import multiset_equal

    def _same(a, b):
        # one signed-count job instead of two exceptAll jobs (guide §2.4)
        return multiset_equal(a, b)

    post_ivf = _pin(
        S.ivfpq_search_index(spark, ivf_root, qs, k=5, n_probe=8).select(
            "query_id", "neighbor_id", "rank"
        )
    )
    want_ivf = _pin(
        S.ivf_topk(
            survivors, qs, k=5, n_probe=8,
            centroids=m_ivf["ann_index"]["centroids"],
        ).select("query_id", "neighbor_id", "rank")
    )
    post_pq = _pin(
        S.ivfpq_search_index(
            spark, pq_root, qs, k=5, rerank_factor=4
        ).select("query_id", "neighbor_id", "rank")
    )
    want_pq = _pin(
        S.pq_topk(
            survivors, qs, k=5, rerank_factor=4,
            codebooks=m_pq["ann_index"]["codebooks"],
        ).select("query_id", "neighbor_id", "rank")
    )
    pinned = _pin(
        S.ivfpq_search_index(
            spark, ivf_root, qs, k=5, n_probe=8, version=m_ivf["version"]
        ).select("query_id", "neighbor_id", "rank")
    )

    ivf_match = int(_same(post_ivf, want_ivf))
    pq_match = int(_same(post_pq, want_pq))
    deleted_absent = int(
        post_ivf.filter(F.col("neighbor_id").between(100, 199)).count() == 0
        and post_pq.filter(F.col("neighbor_id").between(100, 199)).count() == 0
    )
    model_frozen = int(
        d_ivf["ann_index"] == m_ivf["ann_index"]
        and d_pq["ann_index"] == m_pq["ann_index"]
        and sorted(d_ivf["files"]) == sorted(m_ivf["files"])
        and sorted(d_pq["files"]) == sorted(m_pq["files"])
        and bool(d_ivf["tombstones"]) and bool(d_pq["tombstones"])
    )
    mvcc_ok = int(_same(pinned, pre))
    return qs.agg(F.count(F.lit(1)).alias("n_queries")).select(
        "n_queries",
        F.lit(ivf_match).alias("ivf_matches_filtered_ok"),
        F.lit(pq_match).alias("pq_matches_filtered_ok"),
        F.lit(deleted_absent).alias("deleted_absent_ok"),
        F.lit(model_frozen).alias("model_frozen_ok"),
        F.lit(mvcc_ok).alias("mvcc_pinned_ok"),
    )


register(
    "similarity_ann_delete",
    "SELECT 10 AS n_queries, 1 AS ivf_matches_filtered_ok, "
    "1 AS pq_matches_filtered_ok, 1 AS deleted_absent_ok, "
    "1 AS model_frozen_ok, 1 AS mvcc_pinned_ok",
)(_ann_delete)


# ---------------------------------------------------------------------------
# Composite IVF-PQ index (round 8, FAISS IVFPQ shape): coarse cells route
# vectors, PQ codes the RESIDUAL vector - centroid (finer quantization
# for the same byte budget). Candidate generation scans only the probed
# cells' (vec_id, cell, pq_codes) columns — commit-level cell pruning x
# column pruning — and the exact rerank touches true vectors for the
# k*rerank finalists. The oracle pins the recall floor vs exact top-5,
# the index round-trip, and a pinned-generation (MVCC) flag; the
# zero-training-on-serve and column-pruning invariants are monkeypatch/
# plan-pinned in tests/test_dedup_similarity.py.
# ---------------------------------------------------------------------------


def _ann_ivfpq(spark, sf_dir):
    from airflow_postgres_csv_spark.queries.snapshot_queries import _temp_root

    emb = t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    root = _temp_root()
    m1 = S.ivfpq_build_index(
        emb.where(F.col("vec_id") % 2 == 0), root, n_cells=16, m=16, n_codes=16
    )
    m2 = S.ivfpq_index_append(emb.where(F.col("vec_id") % 2 == 1), root)
    # exact feeds both the hit join and per_query: pin (2 -> 1)
    exact = _pin(
        S.topk_cosine_bruteforce(emb, qs, k=5).select(
            "query_id", "neighbor_id"
        )
    )
    ann = S.ivfpq_search_index(
        spark, root, qs, k=5, n_probe=8, rerank_factor=4
    ).select("query_id", "neighbor_id")
    hits = exact.join(ann, ["query_id", "neighbor_id"]).groupBy("query_id").count()
    per_query = exact.groupBy("query_id").count().withColumnRenamed(
        "count", "n_exact"
    )
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_read

    n = emb.count()
    versions_ok = int(
        m1["version"] == 1
        and m2["version"] == 2
        and m2["ann_index"] == m1["ann_index"]
        and snapshot_read(spark, root).count() == n
    )
    return (
        per_query.join(hits.withColumnRenamed("count", "n_hit"), "query_id", "left")
        .fillna(0, subset=["n_hit"])
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            (F.sum("n_hit") / F.sum("n_exact")).alias("recall"),
        )
        .select(
            "n_queries",
            (F.col("recall") >= 0.5).cast("int").alias("recall_ok"),
            F.lit(versions_ok).alias("frozen_model_roundtrip_ok"),
        )
    )


register(
    "similarity_ann_ivfpq",
    "SELECT 10 AS n_queries, 1 AS recall_ok, 1 AS frozen_model_roundtrip_ok",
)(_ann_ivfpq)


# ---------------------------------------------------------------------------
# LIVE streaming ANN ingest (round 9, streaming/sinks.py::
# ann_index_batch): the IVF index is built over half the corpus
# (build-once / serve-many), then an embedding stream keeps it fresh —
# each micro-batch assigns its vectors to the FROZEN centroids and
# appends one generation-pinned commit with the batch id stamped inside
# the same atomic publish (no training jobs on the ingest path, replays
# dropped by the high-water gate). The query feeds one micro-batch,
# stops, RESTARTS from the same checkpoint for the second, and pins:
# the live index's search is EXACTLY the batch-appended reference
# index's search (same deterministic quantizer => same serve results —
# set equality, stronger than a recall floor), the usual recall floor
# vs exact top-5 holds, and the restart appended exactly one commit.
# ---------------------------------------------------------------------------


def _streaming_ann_index_live(spark, sf_dir):
    import os
    import shutil

    from airflow_postgres_csv_spark.operators.snapshots import (
        _max_stamp,
        snapshot_read,
        snapshot_versions,
    )
    from airflow_postgres_csv_spark.queries.snapshot_queries import _temp_root
    from airflow_postgres_csv_spark.streaming.sinks import (
        ann_index_batch,
        start_batch_sink,
    )

    emb = t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    evens = emb.where(F.col("vec_id") % 2 == 0)
    odds = emb.where(F.col("vec_id") % 2 == 1)
    live_root, ref_root = _temp_root(), _temp_root()
    S.ivfpq_build_index(evens, live_root, n_cells=16, m=None)
    S.ivfpq_build_index(evens, ref_root, n_cells=16, m=None)
    S.ivfpq_index_append(odds, ref_root)
    src = os.path.join(_temp_root(), "src")
    os.makedirs(src)
    from airflow_postgres_csv_spark.queries._helpers import (
        stage_single_parquet,
    )

    staged = []
    for i in (0, 1):
        part_path = os.path.join(_temp_root(), f"half{i}.parquet")
        stage_single_parquet(
            odds.where(F.col("vec_id") % 4 == 2 * i + 1),
            part_path,
            1_000_000 + i,
        )
        staged.append(part_path)
    shutil.move(staged[0], os.path.join(src, "000.parquet"))
    schema = emb.schema
    ckpt = os.path.join(_temp_root(), "ckpt")

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    def body(df, bid):
        return ann_index_batch(df, bid, live_root)

    q = start_batch_sink(stream(), body, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    shutil.move(staged[1], os.path.join(src, "001.parquet"))
    q2 = start_batch_sink(stream(), body, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    # live/ref feed set-equality both ways + the hit join; exact feeds
    # the hit join + per_query — pinned, each runs once
    live = _pin(
        S.ivfpq_search_index(spark, live_root, qs, k=5, n_probe=8).select(
            "query_id", "neighbor_id", "rank"
        )
    )
    ref = _pin(
        S.ivfpq_search_index(spark, ref_root, qs, k=5, n_probe=8).select(
            "query_id", "neighbor_id", "rank"
        )
    )
    from airflow_postgres_csv_spark.queries._helpers import multiset_equal

    serve_equal = int(multiset_equal(live, ref))
    exact = _pin(
        S.topk_cosine_bruteforce(emb, qs, k=5).select(
            "query_id", "neighbor_id"
        )
    )
    hits = (
        exact.join(live.select("query_id", "neighbor_id"),
                   ["query_id", "neighbor_id"])
        .groupBy("query_id").count()
    )
    per_query = exact.groupBy("query_id").count().withColumnRenamed(
        "count", "n_exact"
    )
    restart_ok = int(
        len(snapshot_versions(live_root)) == 3
        and _max_stamp(live_root, "last_batch_id", -1) == 1
        and snapshot_read(spark, live_root).count() == emb.count()
    )
    return (
        per_query.join(hits.withColumnRenamed("count", "n_hit"), "query_id", "left")
        .fillna(0, subset=["n_hit"])
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            (F.sum("n_hit") / F.sum("n_exact")).alias("recall"),
        )
        .select(
            "n_queries",
            (F.col("recall") >= 0.5).cast("int").alias("recall_ok"),
            F.lit(serve_equal).alias("live_equals_batch_ok"),
            F.lit(restart_ok).alias("restart_ok"),
        )
    )


register(
    "streaming_ann_index_live",
    "SELECT 10 AS n_queries, 1 AS recall_ok, 1 AS live_equals_batch_ok, "
    "1 AS restart_ok",
)(_streaming_ann_index_live)


# ---------------------------------------------------------------------------
# ANN serving quality knob (round 9, operators/similarity.py::
# ann_derive_settings): the index pins a RECALL PROBE SET at build time
# (probe_queries lowest-id vectors + their exact top-k, metadata-sized
# in the manifest), and the derivation walks the serve knob up a
# doubling ladder (n_probe for IVF, rerank_factor for PQ), replaying the
# probe queries through the NORMAL serve path until the requested recall
# floor is met — callers stop guessing. Zero training jobs on the
# derivation (monkeypatch bomb in tests/test_dedup_similarity.py) and
# zero corpus-wide exact scans after build. The flags pin: both derived
# settings meet the floor on the probe set, the IVF ladder's recall is
# monotone (more probes only add candidates), and the derived n_probe
# then delivers the floor on HELD-OUT queries vs exact top-5.
# ---------------------------------------------------------------------------


def _ann_autotune(spark, sf_dir):
    from airflow_postgres_csv_spark.queries.snapshot_queries import _temp_root

    emb = t(spark, sf_dir, "embeddings")
    ivf_root = _temp_root()
    S.ivfpq_build_index(emb, ivf_root, n_cells=16, m=None, probe_queries=6, probe_k=5)
    d_ivf = S.ann_derive_settings(spark, ivf_root, recall_floor=0.8)
    recalls = [e["recall"] for e in d_ivf["evaluated"]]
    # (the PQ/rerank_factor derivation runs the same ladder — pinned in
    # tests/test_dedup_similarity.py to keep this oracle's job count lean)
    derived_ok = int(
        d_ivf["met"] and d_ivf["recall"] >= 0.8
        and d_ivf["knob"] == "n_probe"
    )
    monotone_ok = int(all(a <= b + 1e-12 for a, b in zip(recalls, recalls[1:])))
    # held-out queries (disjoint from the probe set's lowest ids)
    qs = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110))
    # exact feeds the hit join + the recall denominator count: pin (2 -> 1)
    exact = _pin(
        S.topk_cosine_bruteforce(emb, qs, k=5).select(
            "query_id", "neighbor_id"
        )
    )
    ann = S.ivfpq_search_index(
        spark, ivf_root, qs, k=5, n_probe=d_ivf["n_probe"]
    ).select("query_id", "neighbor_id")
    hits = exact.join(ann, ["query_id", "neighbor_id"]).count()
    holdout_ok = int(hits / exact.count() >= 0.5)
    return arrow_local_df(spark, 
        [(6, derived_ok, monotone_ok, holdout_ok)],
        "n_probe_queries int, derived_ok int, ladder_monotone_ok int, "
        "holdout_recall_ok int",
    )


register(
    "similarity_ann_autotune",
    "SELECT 6 AS n_probe_queries, 1 AS derived_ok, 1 AS ladder_monotone_ok, "
    "1 AS holdout_recall_ok",
)(_ann_autotune)
