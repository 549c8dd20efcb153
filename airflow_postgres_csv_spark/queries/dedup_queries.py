"""Deduplication query corpus (SURVEY.md §2.3) over documents/embeddings.

Exact dedup, n-gram Jaccard, MinHash+LSH, and SimHash are ALL
oracle-checked: every hash in the pipelines is MD5-based (bit-identical
across engines), so the DuckDB oracles replay the full pipelines in SQL —
shingle → signature → banding → candidates → verification for MinHash, and
per-token nibble bits → signed sums → bank blocking → Hamming for SimHash.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from airflow_postgres_csv_spark.functions import texts as X
from airflow_postgres_csv_spark.operators import dedup as D
from airflow_postgres_csv_spark.queries import register
from airflow_postgres_csv_spark.queries._helpers import t

SQL_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
SQL_TOKENS = f"string_split({SQL_NORM}, ' ')"

# Shared oracle CTEs: distinct 3-gram shingles per doc + exact jaccard pairs.
_SQL_SHINGLES = f"""
toks AS (
  SELECT doc_id, {SQL_TOKENS} AS tk FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(tk) - 1),
                               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
  FROM toks
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
jacc AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(COUNT(*) AS DOUBLE) / (sa.n + sb.n - COUNT(*)) AS jaccard
  FROM shingles a
  JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN sizes sa ON sa.doc_id = a.doc_id
  JOIN sizes sb ON sb.doc_id = b.doc_id
  GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
)
"""

register(
    "dedup_exact_documents",
    f"""
    SELECT md5({SQL_NORM}) AS fp, MIN(doc_id) AS survivor_id, COUNT(*) AS n_dups
    FROM documents GROUP BY fp ORDER BY survivor_id
    """,
)(
    lambda spark, sf_dir: (
        D.dedup_exact(
            t(spark, sf_dir, "documents"), X.fingerprint_md5("text").alias("fp")
        )
        .withColumnRenamed("dedup_key", "fp")
        .orderBy("survivor_id")
    )
)


register(
    "dedup_exact_composite",
    """
    SELECT lang, n_chars, MIN(doc_id) AS survivor_id, COUNT(*) AS n_dups
    FROM documents GROUP BY lang, n_chars
    ORDER BY lang, n_chars
    """,
)(
    lambda spark, sf_dir: (
        D.dedup_exact(t(spark, sf_dir, "documents"), ["lang", "n_chars"])
        .orderBy("lang", "n_chars")
    )
)


# Stop-shingle guard active: shingles appearing in > 5 docs are dropped
# before the self-join and per-doc sizes are recomputed post-filter — at
# corpus scale hot shingles (boilerplate phrases) otherwise create
# quadratic join buckets. The cap is exercised at sf0.01 (max df there is
# 7) so the guarded code path is what the oracle certifies.
_NGRAM_DF_CAP = 5

_SQL_SHINGLES_CAPPED = f"""
raw_shingles AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(tk) - 1),
                               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
  FROM (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents)
),
hot AS (
  SELECT shingle FROM raw_shingles GROUP BY shingle HAVING COUNT(*) > {_NGRAM_DF_CAP}
),
cshingles AS (
  SELECT * FROM raw_shingles WHERE shingle NOT IN (SELECT shingle FROM hot)
),
csizes AS (SELECT doc_id, COUNT(*) AS n FROM cshingles GROUP BY doc_id)
"""

register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SQL_SHINGLES_CAPPED}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS DOUBLE) / (sa.n + sb.n - COUNT(*)) AS jaccard
    FROM cshingles a
    JOIN cshingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    JOIN csizes sa ON sa.doc_id = a.doc_id
    JOIN csizes sb ON sb.doc_id = b.doc_id
    GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
    HAVING CAST(COUNT(*) AS DOUBLE) / (sa.n + sb.n - COUNT(*)) >= 0.5
    ORDER BY id_a, id_b
    """,
)(
    lambda spark, sf_dir: (
        D.ngram_jaccard_pairs(
            t(spark, sf_dir, "documents"),
            threshold=0.5,
            max_shingle_df=_NGRAM_DF_CAP,
        ).orderBy("id_a", "id_b")
    )
)


# MinHash + LSH, fully replayed in SQL: 8 hashes via Kirsch–Mitzenmacher
# double hashing (one md5 per shingle, g_i = (h1 + i*h2) mod 2^32 from the
# digest's two 32-bit halves), 4 bands of 2.
_SQL_H1 = "('0x' || substring(md5(shingle), 1, 8))::BIGINT"
_SQL_H2 = "('0x' || substring(md5(shingle), 9, 8))::BIGINT"
_SIG_COLS = ",\n".join(
    f"    MIN(({_SQL_H1} + {i} * {_SQL_H2}) % 4294967296) AS sig_{i}"
    for i in range(8)
)
_BAND_ROWS = ",\n".join(
    f"    ({bi}, md5(CAST(sig_{2 * bi} AS VARCHAR) || '|' ||"
    f" CAST(sig_{2 * bi + 1} AS VARCHAR)))"
    for bi in range(4)
)

register(
    "dedup_minhash_lsh",
    f"""
    WITH {_SQL_SHINGLES},
    sig AS (
      SELECT doc_id,
{_SIG_COLS}
      FROM shingles GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, b.band_idx, b.band_key
      FROM sig, LATERAL (VALUES
{_BAND_ROWS}
      ) b(band_idx, band_key)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a
      JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                   AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b, j.jaccard
    FROM cand c JOIN jacc j ON j.id_a = c.id_a AND j.id_b = c.id_b
    WHERE j.jaccard >= 0.5
    ORDER BY c.id_a, c.id_b
    """,
)(
    lambda spark, sf_dir: (
        D.minhash_near_dup_pairs(
            t(spark, sf_dir, "documents"), num_hashes=8, bands=4, threshold=0.5
        ).orderBy("id_a", "id_b")
    )
)


# SimHash, fully replayed in SQL: per-token hash = first 16 hex nibbles of
# md5(token) (bit b = bit b%4 of nibble b//4), 64 signed sums per doc,
# 4×16-bit banks for candidate blocking, exact Hamming verification.
_SH_SUMS = ",\n".join(
    f"      SUM(CASE WHEN ((nibs[{b // 4 + 1}] >> {b % 4}) & 1) = 1"
    f" THEN 1 ELSE -1 END) AS s_{b}"
    for b in range(64)
)
_SH_BITS = (
    "["
    + ", ".join(f"CASE WHEN s_{b} > 0 THEN 1 ELSE 0 END" for b in range(64))
    + "]"
)
_SH_BANKS = ",\n".join(
    f"        ({k}, "
    + " + ".join(f"bl[{k * 16 + j + 1}] * {1 << j}" for j in range(16))
    + ")"
    for k in range(4)
)

register(
    "dedup_simhash",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({SQL_TOKENS}) AS tok FROM documents
    ),
    tn AS (
      SELECT doc_id,
             list_transform(range(1, 17),
                            i -> strpos('0123456789abcdef',
                                        substr(md5(tok), i, 1)) - 1) AS nibs
      FROM toks
    ),
    sums AS (
      SELECT doc_id,
{_SH_SUMS}
      FROM tn GROUP BY doc_id
    ),
    bitsl AS (SELECT doc_id, {_SH_BITS} AS bl FROM sums),
    banks AS (
      SELECT doc_id, bl, b.bank_idx, b.bank_val
      FROM bitsl, LATERAL (VALUES
{_SH_BANKS}
      ) b(bank_idx, bank_val)
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             list_reduce(list_transform(list_zip(a.bl, b.bl),
                                        s -> abs(s[1] - s[2])),
                         (x, y) -> x + y) AS hamming
      FROM banks a
      JOIN banks b ON a.bank_idx = b.bank_idx AND a.bank_val = b.bank_val
                   AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hamming
    FROM pairs WHERE hamming <= 3
    ORDER BY id_a, id_b
    """,
)(
    lambda spark, sf_dir: (
        D.simhash_near_dup_pairs(
            t(spark, sf_dir, "documents"), max_hamming=3
        ).orderBy("id_a", "id_b")
    )
)


register(
    "dedup_embedding_cosine",
    """
    WITH e AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(
             list_reduce(list_transform(list_zip(a.v, b.v), s -> s[1] * s[2]), (x,y) -> x + y)
             / SQRT(list_reduce(list_transform(list_zip(a.v, a.v), s -> s[1] * s[2]), (x,y) -> x + y)
                  * list_reduce(list_transform(list_zip(b.v, b.v), s -> s[1] * s[2]), (x,y) -> x + y)),
             9) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_reduce(list_transform(list_zip(a.v, b.v), s -> s[1] * s[2]), (x,y) -> x + y)
          / SQRT(list_reduce(list_transform(list_zip(a.v, a.v), s -> s[1] * s[2]), (x,y) -> x + y)
               * list_reduce(list_transform(list_zip(b.v, b.v), s -> s[1] * s[2]), (x,y) -> x + y)) >= 0.4
    ORDER BY id_a, id_b
    """,
)(
    lambda spark, sf_dir: (
        D.embedding_near_dup_pairs(
            t(spark, sf_dir, "embeddings"), threshold=0.4, block_col="label"
        )
        .withColumn("cosine", F.round("cosine", 9))
        .orderBy("id_a", "id_b")
    )
)


# ---------------------------------------------------------------------------
# Substring-level duplication scoring: the copy-paste contamination signal
# that document-level dedup misses (Lee et al., "Deduplicating Training
# Data Makes Language Models Better" motivates removing repeated ~50-token
# spans, not just whole-document dups). Every 10-token window is hashed;
# a window whose hash occurs in >1 document is "shared"; each doc reports
# its shared-window fraction. All hash-keyed equi-joins/aggs — no
# pairwise comparison anywhere, so cost is O(total windows) at any scale.
# ---------------------------------------------------------------------------

_WIN_K = 10


def _substring_windows_fn(spark, sf_dir):
    from airflow_postgres_csv_spark.functions import texts as X

    docs = t(spark, sf_dir, "documents")
    h = (
        docs.withColumn("_toks", X.tokens("text"))
        .select(
            "doc_id",
            F.explode(X.ngrams_of_tokens(F.col("_toks"), _WIN_K)).alias("w"),
        )
        .select("doc_id", F.md5("w").alias("wh"))
    )
    spread = h.groupBy("wh").agg(F.count_distinct("doc_id").alias("ndocs"))
    per = (
        h.join(spread, "wh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum((F.col("ndocs") > 1).cast("long")).alias("n_shared_windows"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_shared_windows", F.lit(0)).alias("n_shared_windows"),
            (
                F.coalesce("n_shared_windows", F.lit(0)).cast("double")
                / F.greatest(F.coalesce("n_windows", F.lit(0)), F.lit(1)).cast(
                    "double"
                )
            ).alias("shared_ratio"),
        )
        .orderBy("doc_id")
    )


register(
    "dedup_substring_windows",
    f"""
    WITH tk AS (
      SELECT doc_id, {SQL_TOKENS} AS tk FROM documents
    ),
    w AS (
      SELECT doc_id, md5(win) AS wh
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk) - {_WIN_K - 2}),
                      i -> array_to_string(tk[i:i+{_WIN_K - 1}], ' '))) AS win
        FROM tk
      )
    ),
    spread AS (SELECT wh, COUNT(DISTINCT doc_id) AS ndocs FROM w GROUP BY wh),
    per AS (
      SELECT doc_id,
             COUNT(*) AS n_windows,
             CAST(SUM(CASE WHEN s.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_windows
      FROM w JOIN spread s USING (wh) GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(n_windows, 0) AS n_windows,
           COALESCE(n_shared_windows, 0) AS n_shared_windows,
           CAST(COALESCE(n_shared_windows, 0) AS DOUBLE)
             / GREATEST(COALESCE(n_windows, 0), 1) AS shared_ratio
    FROM documents d LEFT JOIN per USING (doc_id)
    ORDER BY d.doc_id
    """,
)(_substring_windows_fn)


# ---------------------------------------------------------------------------
# Corpus-quality dashboard rollup: per source, how much of it is exact
# duplicates (docs sharing a normalized fingerprint with ANY doc in the
# corpus, survivors excluded from the dup count). The per-source health
# metric a curation pipeline tracks per crawl batch. Two hash-agg
# shuffles, no joins wider than fingerprint cardinality.
# ---------------------------------------------------------------------------


def dedup_rate_by_source(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    fps = docs.select(
        "doc_id", "source", X.fingerprint_md5("text").alias("fp")
    )
    spread = fps.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_fp"), F.min("doc_id").alias("survivor_id")
    )
    return (
        fps.join(spread, "fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                ((F.col("n_fp") > 1) & (F.col("doc_id") != F.col("survivor_id")))
                .cast("long")
            ).alias("n_redundant"),
            F.count_distinct("fp").alias("n_unique_fp"),
        )
        .withColumn(
            "redundancy",
            F.col("n_redundant").cast("double") / F.col("n_docs").cast("double"),
        )
        .orderBy("source")
    )


register(
    "dedup_rate_by_source",
    f"""
    WITH fps AS (
      SELECT doc_id, source, md5({SQL_NORM}) AS fp FROM documents
    ),
    spread AS (
      SELECT fp, COUNT(*) AS n_fp, MIN(doc_id) AS survivor_id
      FROM fps GROUP BY fp
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_fp > 1 AND doc_id <> survivor_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_redundant,
           COUNT(DISTINCT fp) AS n_unique_fp,
           CAST(SUM(CASE WHEN n_fp > 1 AND doc_id <> survivor_id
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS redundancy
    FROM fps JOIN spread USING (fp)
    GROUP BY source
    ORDER BY source
    """,
)(dedup_rate_by_source)


# Containment (asymmetric) near-dup: |A∩B|/|A| — flags a small doc fully
# embedded in a big one, which the symmetric Jaccard measure misses.
register(
    "dedup_containment",
    f"""
    WITH {_SQL_SHINGLES},
    pair AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common,
             sa.n AS n_a, sb.n AS n_b
      FROM shingles a
      JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      JOIN sizes sa ON sa.doc_id = a.doc_id
      JOIN sizes sb ON sb.doc_id = b.doc_id
      GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
    )
    SELECT id_a, id_b,
           CAST(n_common AS DOUBLE) / n_a AS containment_a,
           CAST(n_common AS DOUBLE) / n_b AS containment_b
    FROM pair
    WHERE CAST(n_common AS DOUBLE) / n_a >= 0.8
       OR CAST(n_common AS DOUBLE) / n_b >= 0.8
    ORDER BY id_a, id_b
    """,
)(
    lambda spark, sf_dir: (
        D.ngram_containment_pairs(
            t(spark, sf_dir, "documents"), threshold=0.8
        ).orderBy("id_a", "id_b")
    )
)


# ---------------------------------------------------------------------------
# Segment-level (C4/CCNet-style) dedup WITH text reconstruction: every
# 20-token segment content keeps only its first corpus occurrence
# (including within-doc repeats) and each doc is rebuilt from surviving
# segments. This catches the copy-paste contamination document-level dedup
# misses while KEEPING the documents. The oracle replays the identical
# segmentation (1-based inclusive list slices = Spark's slice), first-
# occurrence window, and ordered string_agg reassembly.
# ---------------------------------------------------------------------------

register(
    "dedup_segments_clean",
    f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKENS} AS tk FROM documents
    ), base AS (
      SELECT doc_id, tk, CAST(CEIL(len(tk) / 20.0) AS BIGINT) AS n FROM toks
    ), idx AS (
      SELECT doc_id, tk, unnest(generate_series(0, n - 1)) AS seg_idx FROM base
    ), seg AS (
      SELECT doc_id, CAST(seg_idx AS INT) AS seg_idx,
             array_to_string(tk[seg_idx*20 + 1 : seg_idx*20 + 20], ' ') AS seg
      FROM idx
    ), occ AS (
      SELECT doc_id, seg_idx, seg,
             ROW_NUMBER() OVER (PARTITION BY md5(seg) ORDER BY doc_id, seg_idx) AS rn
      FROM seg
    ), kept AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
      FROM occ WHERE rn = 1 GROUP BY doc_id
    ), tot AS (
      SELECT doc_id, COUNT(*) AS n_segs FROM seg GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_segs,
           COALESCE(k.n_kept, 0) AS n_kept,
           COALESCE(k.clean_text, '') AS clean_text
    FROM tot t LEFT JOIN kept k USING (doc_id)
    ORDER BY t.doc_id
    """,
)(
    lambda spark, sf_dir: (
        D.segment_dedup_clean(
            t(spark, sf_dir, "documents"), seg_tokens=20
        ).orderBy("doc_id")
    )
)


# Prefix-filtering exact Jaccard join (AllPairs/PPJoin candidate
# generation, operators/dedup.py:jaccard_prefix_pairs). The oracle is the
# PLAIN uncapped all-shared-shingles formulation — the differential check
# certifies that prefix filtering changes candidate generation only, never
# the answer.
register(
    "dedup_jaccard_prefix",
    f"""
    WITH {_SQL_SHINGLES}
    SELECT id_a, id_b, jaccard FROM jacc
    WHERE jaccard >= 0.5
    ORDER BY id_a, id_b
    """,
)(
    lambda spark, sf_dir: (
        D.jaccard_prefix_pairs(
            t(spark, sf_dir, "documents"), threshold=0.5
        ).orderBy("id_a", "id_b")
    )
)


# Incremental MinHash ingestion: the new batch (doc_id % 10 = 0) matched
# against the standing corpus (the rest) — band-bucket join between sides,
# candidate-restricted exact-jaccard verification. Same signature/band
# fragments as dedup_minhash_lsh, split by side.
register(
    "dedup_incremental_minhash",
    f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKENS} AS tk FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(tk) - 1),
                                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
      FROM toks
    ),
    sig AS (
      SELECT doc_id,
{_SIG_COLS}
      FROM shingles GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, b.band_idx, b.band_key
      FROM sig, LATERAL (VALUES
{_BAND_ROWS}
      ) b(band_idx, band_key)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
      FROM bands a
      JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
      WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
    ),
    inter AS (
      SELECT c.batch_id, c.corpus_id, COUNT(*) AS ni
      FROM cand c
      JOIN shingles sa ON sa.doc_id = c.batch_id
      JOIN shingles sb ON sb.doc_id = c.corpus_id AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id)
    SELECT i.batch_id, i.corpus_id,
           CAST(i.ni AS DOUBLE) / (za.n + zb.n - i.ni) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.batch_id
    JOIN sizes zb ON zb.doc_id = i.corpus_id
    WHERE CAST(i.ni AS DOUBLE) / (za.n + zb.n - i.ni) >= 0.5
    ORDER BY i.batch_id, i.corpus_id
    """,
)(
    lambda spark, sf_dir: (
        D.minhash_incremental_matches(
            t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 != 0),
            t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0),
            num_hashes=8,
            bands=4,
            threshold=0.5,
        ).orderBy("batch_id", "corpus_id")
    )
)


# LSH tuning/observability report: per-band bucket-size distribution and
# the implied candidate-pair bound Sigma C(size,2) — the numbers an
# operator reads before running the pair join at 100 TB (hot buckets
# here mean a df cap or more bands are needed). Pure aggregation over
# the band buckets; no pair join is executed.
register(
    "dedup_lsh_bucket_report",
    f"""
    WITH {_SQL_SHINGLES},
    sig AS (
      SELECT doc_id,
{_SIG_COLS}
      FROM shingles GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, b.band_idx, b.band_key
      FROM sig, LATERAL (VALUES
{_BAND_ROWS}
      ) b(band_idx, band_key)
    ),
    buckets AS (
      SELECT band_idx, band_key, COUNT(*) AS sz
      FROM bands GROUP BY 1, 2
    )
    SELECT band_idx,
           COUNT(*) AS n_buckets,
           MAX(sz) AS max_bucket,
           CAST(SUM(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_colliding,
           CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS candidate_pairs
    FROM buckets GROUP BY band_idx ORDER BY band_idx
    """,
)(
    lambda spark, sf_dir: (
        D.minhash_band_buckets(
            D.minhash_signatures(
                t(spark, sf_dir, "documents"), num_hashes=8, shingle_n=3
            ),
            num_hashes=8,
            bands=4,
        )
        .groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy("band_idx")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("sz").alias("max_bucket"),
            F.sum(F.when(F.col("sz") > 1, 1).otherwise(0)).alias("n_colliding"),
            F.sum(F.expr("sz * (sz - 1) DIV 2")).alias("candidate_pairs"),
        )
        .orderBy("band_idx")
    )
)


# ---------------------------------------------------------------------------
# Exact-substring duplication SPANS (the ExactSubstr shape from Lee et al.,
# "Deduplicating Training Data Makes Language Models Better", ACL'22):
# every k-char gram that occurs at ≥2 positions corpus-wide marks its
# positions duplicated; per doc, overlapping/contiguous duplicated
# intervals [p, p+k-1] merge into MAXIMAL spans (gaps-and-islands over the
# sorted positions), yielding the cut-list a span-level cleaner would
# apply — the repeated boilerplate/licence-block signal that document- and
# window-level dedup miss. Scale shape: position explode → one hash agg on
# the gram digest → shuffle join back → per-doc window; the gram table is
# O(total chars) with a 16-byte digest, never a pairwise comparison. At
# 100 TB the digest agg is the only corpus-wide shuffle and partitions by
# hash evenly (grams are near-unique), exactly like the winnowing path.
# ---------------------------------------------------------------------------

_XS_K = 40  # span gram width in chars


def _exact_substring_spans(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    grams = (
        docs.where(F.length("text") >= _XS_K)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - (_XS_K - 1))
            ).alias("p"),
            "text",
        )
        .select(
            "doc_id", "p", F.md5(F.expr(f"substring(text, p, {_XS_K})")).alias("g")
        )
        .localCheckpoint(eager=False)  # two consumers: counts + the join back
    )
    dup_grams = grams.groupBy("g").agg(F.count(F.lit(1)).alias("n")).where(
        F.col("n") >= 2
    )
    dup_pos = grams.join(dup_grams.select("g"), "g").select("doc_id", "p")
    w = Window.partitionBy("doc_id").orderBy("p")
    spans = (
        dup_pos.withColumn(
            "brk",
            F.when(
                F.lag("p").over(w).isNull()
                | ((F.col("p") - F.lag("p").over(w)) > _XS_K),
                1,
            ).otherwise(0),
        )
        .withColumn("isl", F.sum("brk").over(w))
        .groupBy("doc_id", "isl")
        .agg(F.min("p").alias("s"), (F.max("p") + (_XS_K - 1)).alias("e"))
    )
    return (
        docs.join(spans, "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.col("s")).alias("n_spans"),
            F.coalesce(F.sum(F.col("e") - F.col("s") + 1), F.lit(0)).alias(
                "dup_chars"
            ),
            F.first(F.length("text")).alias("n_chars"),
        )
        .select(
            "doc_id",
            "n_spans",
            "dup_chars",
            (F.col("dup_chars").cast("double") / F.col("n_chars")).alias(
                "dup_fraction"
            ),
        )
        .orderBy("doc_id")
    )


register(
    "dedup_exact_substring_spans",
    f"""
    WITH pos AS (
        SELECT doc_id, unnest(generate_series(1, length(text) - {_XS_K - 1})) AS p, text
        FROM documents WHERE length(text) >= {_XS_K}
    ), grams AS (
        SELECT doc_id, p, md5(substr(text, p, {_XS_K})) AS g FROM pos
    ), dup_grams AS (
        SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2
    ), dup AS (
        SELECT doc_id, p FROM grams JOIN dup_grams USING (g)
    ), flagged AS (
        SELECT doc_id, p,
               CASE WHEN lag(p) OVER w IS NULL OR p - lag(p) OVER w > {_XS_K}
                    THEN 1 ELSE 0 END AS brk
        FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY p)
    ), islands AS (
        SELECT doc_id, p,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY p) AS isl
        FROM flagged
    ), spans AS (
        SELECT doc_id, MIN(p) AS s, MAX(p) + {_XS_K - 1} AS e
        FROM islands GROUP BY doc_id, isl
    )
    SELECT d.doc_id,
           CAST(COUNT(sp.s) AS BIGINT) AS n_spans,
           CAST(COALESCE(SUM(sp.e - sp.s + 1), 0) AS BIGINT) AS dup_chars,
           CAST(COALESCE(SUM(sp.e - sp.s + 1), 0) AS DOUBLE) / length(d.text)
               AS dup_fraction
    FROM documents d LEFT JOIN spans sp USING (doc_id)
    GROUP BY d.doc_id, d.text
    ORDER BY d.doc_id
    """,
)(_exact_substring_spans)


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup (Abbas et al. 2023): deterministic sign-LSH
# cells stand in for the paper's k-means clusters, pairwise cosine only
# within a cell, first-id-wins survivor rule. Fully oracle-checked — the
# hyperplanes are seed-deterministic literals and every dot product is a
# sequential double fold, so both engines agree bitwise on cells, cosines,
# and therefore on the exact kept/dropped partition.
# ---------------------------------------------------------------------------

_SEM_PLANES_N = 6
_SEM_TAU = 0.3


def _sem_planes():
    from airflow_postgres_csv_spark.operators.similarity import random_hyperplanes

    return random_hyperplanes(64, _SEM_PLANES_N, seed=42)


def _sem_oracle() -> str:
    planes = _sem_planes()

    def dot(vec_expr, plane):
        lit = "[" + ", ".join(repr(float(x)) for x in plane) + "]"
        return (
            f"list_reduce(list_transform(list_zip({vec_expr}, {lit}),"
            " s -> s[1] * s[2]), (x,y) -> x + y)"
        )

    cell = " + ".join(
        f"(CASE WHEN {dot('v', p)} > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    cos = (
        "list_reduce(list_transform(list_zip(a.v, b.v), s -> s[1] * s[2]), (x,y) -> x + y)"
        " / SQRT(list_reduce(list_transform(list_zip(a.v, a.v), s -> s[1] * s[2]), (x,y) -> x + y)"
        "      * list_reduce(list_transform(list_zip(b.v, b.v), s -> s[1] * s[2]), (x,y) -> x + y))"
    )
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    cells AS (
      SELECT vec_id, v, {cell} AS cell FROM e
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id AS id
      FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {cos} >= {_SEM_TAU}
    )
    SELECT c.vec_id AS id, c.cell AS cell,
           CASE WHEN d.id IS NULL THEN 1 ELSE 0 END AS kept
    FROM cells c LEFT JOIN dropped d ON c.vec_id = d.id
    ORDER BY id
    """


register("dedup_semantic_semdedup", _sem_oracle())(
    lambda spark, sf_dir: (
        D.semantic_dedup(
            t(spark, sf_dir, "embeddings"),
            n_planes=_SEM_PLANES_N,
            threshold=_SEM_TAU,
            dim=64,
        ).orderBy("id")
    )
)


# ---------------------------------------------------------------------------
# LIVE streaming dedup-on-ingest (round 9, streaming/sinks.py::
# dedup_ingest_batch): a document stream lands in a snapshot corpus
# holding each content key exactly once — within-batch survivors are
# min-doc_id per md5(normalized text), cross-batch rejects anti-join the
# PERSISTED fingerprint table (O(batch) per micro-batch, the corpus text
# never re-hashed), and both tables are batch-id-gated inside their
# atomic publishes (data-then-keys commit order so crash replays
# converge). Staged stream: micro-batch 0 = even doc_ids; micro-batch
# 1 = odd doc_ids PLUS re-crawled copies of every even doc (new ids,
# same text) — every copy must be rejected against batch 0, and odd
# docs whose text already appeared among evens are rejected too. The
# oracle expresses exactly that first-batch-wins rule in SQL.
# ---------------------------------------------------------------------------


def streaming_dedup_ingest_live(spark, sf_dir):
    import os
    import shutil

    from airflow_postgres_csv_spark.operators.snapshots import snapshot_read
    from airflow_postgres_csv_spark.queries.snapshot_queries import _temp_root
    from airflow_postgres_csv_spark.streaming.sinks import (
        dedup_ingest_batch,
        start_batch_sink,
    )

    docs = t(spark, sf_dir, "documents")
    evens = docs.where(F.col("doc_id") % 2 == 0)
    batch1 = docs.where(F.col("doc_id") % 2 == 1).unionByName(
        evens.withColumn("doc_id", F.col("doc_id") + 1000000)  # re-crawl
    )
    src = os.path.join(_temp_root(), "src")
    os.makedirs(src)
    from airflow_postgres_csv_spark.queries._helpers import (
        stage_single_parquet,
    )

    for i, part in enumerate((evens, batch1)):
        stage_single_parquet(
            part, os.path.join(src, f"{i:03d}.parquet"), 1_000_000 + i
        )
    root, keys_root = _temp_root(), _temp_root()
    q = start_batch_sink(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        lambda df, bid: dedup_ingest_batch(df, bid, root, keys_root),
        os.path.join(_temp_root(), "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    corpus = snapshot_read(spark, root)
    keys_consistent = int(
        snapshot_read(spark, keys_root).count() == corpus.count()
    )
    return (
        corpus.select("doc_id", "lang", "source")
        .withColumn("keys_consistent", F.lit(keys_consistent))
        .orderBy("doc_id")
    )


register(
    "streaming_dedup_ingest_live",
    f"""
    WITH keyed AS (
        SELECT doc_id, lang, source, md5({SQL_NORM}) AS k FROM documents
    ),
    surv AS (
        SELECT k,
               COALESCE(MIN(CASE WHEN doc_id % 2 = 0 THEN doc_id END),
                        MIN(doc_id)) AS doc_id
        FROM keyed GROUP BY k
    )
    SELECT d.doc_id, d.lang, d.source, 1 AS keys_consistent
    FROM surv s JOIN keyed d ON s.doc_id = d.doc_id AND s.k = d.k
    ORDER BY d.doc_id
    """,
)(streaming_dedup_ingest_live)
