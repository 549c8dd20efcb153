"""Text-analysis operators over the documents corpus (SURVEY.md §2.3):
token statistics, BPE-ish token counting, quality scoring, language-ID
heuristic, MD5 fingerprinting — all oracle-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_postgres_csv_spark.functions import texts as X
from airflow_postgres_csv_spark.queries import register
from airflow_postgres_csv_spark.queries._helpers import t

# Shared DuckDB fragments mirroring functions/texts.py definitions.
SQL_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
SQL_TOKENS = f"string_split({SQL_NORM}, ' ')"

register(
    "text_token_stats",
    f"""
    SELECT doc_id, lang,
           len({SQL_TOKENS}) AS n_tokens,
           LENGTH(text) AS n_chars_measured,
           n_chars,
           CAST(LENGTH(replace({SQL_NORM}, ' ', '')) AS DOUBLE) / len({SQL_TOKENS}) AS avg_token_len
    FROM documents
    ORDER BY doc_id
    """,
)(
    lambda spark, sf_dir: (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            F.size(X.tokens("text")).alias("n_tokens"),
            F.length("text").alias("n_chars_measured"),
            "n_chars",
            (
                F.length(F.replace(X.normalize_text("text"), F.lit(" "), F.lit("")))
                .cast("double")
                / F.size(X.tokens("text"))
            ).alias("avg_token_len"),
        )
        .orderBy("doc_id")
    )
)


register(
    "text_token_count_bpe",
    """
    SELECT doc_id,
           len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s])', 1)) AS n_bpe_tokens
    FROM documents ORDER BY doc_id
    """,
)(
    lambda spark, sf_dir: (
        t(spark, sf_dir, "documents")
        .select("doc_id", X.bpe_ish_token_count("text").alias("n_bpe_tokens"))
        .orderBy("doc_id")
    )
)


register(
    "text_quality_score",
    f"""
    SELECT doc_id,
           CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / LENGTH(text) AS punct_ratio,
           CAST(len(list_filter({SQL_TOKENS}, x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
             / len({SQL_TOKENS}) AS stop_ratio,
           (CASE WHEN LENGTH(text) BETWEEN 100 AND 5000 THEN 40 ELSE 0 END
            + CASE WHEN CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / LENGTH(text) < 0.10 THEN 30 ELSE 0 END
            + CASE WHEN CAST(len(list_filter({SQL_TOKENS}, x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
                        / len({SQL_TOKENS}) > 0.01 THEN 30 ELSE 0 END) AS quality
    FROM documents ORDER BY doc_id
    """,
)(
    lambda spark, sf_dir: (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            X.punct_ratio("text").alias("punct_ratio"),
            X.stopword_ratio("text").alias("stop_ratio"),
            X.quality_score("text").alias("quality"),
        )
        .orderBy("doc_id")
    )
)


# Language-ID: marker-word scores per language, argmax with deterministic
# tie-break (score desc, language name asc). The fixture text is synthetic
# same-vocabulary prose, so 'en' usually wins — the operator (scoring +
# argmax over a language set) is what's exercised.
_LANGS = ("de", "en", "es", "fr")
_SQL_MARKERS = {
    "en": "('the','a','of','and')",
    "de": "('der','die','das','und')",
    "es": "('el','la','los','que')",
    "fr": "('le','la','les','et')",
}
_hits_sql = {
    lang: f"len(list_filter({SQL_TOKENS}, x -> x IN {_SQL_MARKERS[lang]}))" for lang in _LANGS
}

register(
    "text_lang_id",
    f"""
    SELECT doc_id, lang AS labeled_lang,
           {_hits_sql['en']} AS hits_en,
           {_hits_sql['de']} AS hits_de,
           {_hits_sql['es']} AS hits_es,
           {_hits_sql['fr']} AS hits_fr,
           (SELECT s.l FROM (
              VALUES ({_hits_sql['de']}, 'de'), ({_hits_sql['en']}, 'en'),
                     ({_hits_sql['es']}, 'es'), ({_hits_sql['fr']}, 'fr')
            ) s(h, l) ORDER BY s.h DESC, s.l LIMIT 1) AS predicted_lang
    FROM documents
    ORDER BY doc_id
    """,
)(
    lambda spark, sf_dir: _lang_id(spark, sf_dir)
)


def _lang_id(spark, sf_dir):
    df = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[X.lang_marker_hits("text", lang).alias(f"hits_{lang}") for lang in _LANGS],
    )
    # argmax via array of (score, lang) structs sorted desc — no UDF
    pairs = F.array(
        *[
            F.struct(F.col(f"hits_{lang}").alias("h"), F.lit(lang).alias("l"))
            for lang in _LANGS
        ]
    )
    best = F.array_sort(
        pairs,
        lambda a, b: F.when(a["h"] > b["h"], -1)
        .when(a["h"] < b["h"], 1)
        .when(a["l"] < b["l"], -1)
        .when(a["l"] > b["l"], 1)
        .otherwise(0),
    )[0]["l"]
    return df.withColumn("predicted_lang", best).orderBy("doc_id")


register(
    "text_fingerprint",
    f"""
    SELECT doc_id, md5({SQL_NORM}) AS fp
    FROM documents ORDER BY doc_id
    """,
)(
    lambda spark, sf_dir: (
        t(spark, sf_dir, "documents")
        .select("doc_id", X.fingerprint_md5("text").alias("fp"))
        .orderBy("doc_id")
    )
)


register(
    "text_lang_source_stats",
    """
    SELECT lang, COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
)(
    lambda spark, sf_dir: (
        t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )
)


# ---------------------------------------------------------------------------
# TF-IDF, pure DataFrame (SURVEY.md §2.3 names HashingTF+IDF; the exact
# formulation here is oracle-checkable where the hashed one is not, and at
# scale it is the same two shuffles: tf groupBy + df-join on token).
# Top-5 terms per document by tf·ln(N/df), ties broken by token.
# ---------------------------------------------------------------------------


def text_tfidf_topk(spark, sf_dir):
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(X.tokens("text")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_tok = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_docs"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_tok, "token")
        .join(F.broadcast(n_docs))
        .withColumn(
            # 1-ulp ln() divergence between JVM and libm: round to 9 dp both sides
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df_docs")), 9),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "token")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "token", "tf", "df_docs", "tfidf", "rk")
        .orderBy("doc_id", "rk")
    )


register(
    "text_tfidf_topk",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({SQL_TOKENS}) AS token FROM documents
    ), tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ), dfq AS (
        SELECT token, COUNT(*) AS df_docs FROM tf GROUP BY 1
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, token, tf, df_docs,
               ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df_docs), 9) AS tfidf
        FROM tf JOIN dfq USING (token) CROSS JOIN n
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rk
        FROM scored
    )
    SELECT doc_id, token, tf, df_docs, tfidf, rk FROM ranked WHERE rk <= 5
    ORDER BY doc_id, rk
    """,
)(text_tfidf_topk)


# ---------------------------------------------------------------------------
# Document chunking (operators/chunking.py): overlapping 64-token windows,
# stride 48. The DuckDB oracle rebuilds the windows with list_slice over
# generate_series — an independent formulation of the same windows.
# ---------------------------------------------------------------------------


def text_chunk_windows(spark, sf_dir):
    from airflow_postgres_csv_spark.operators.chunking import chunk_documents

    return chunk_documents(
        t(spark, sf_dir, "documents"), chunk_tokens=64, overlap=16
    ).orderBy("doc_id", "chunk_idx")


register(
    "text_chunk_windows",
    f"""
    WITH toks AS (
        SELECT doc_id, {SQL_TOKENS} AS tk FROM documents
    ), base AS (
        SELECT doc_id, tk, len(tk) AS n,
               CASE WHEN len(tk) <= 64 THEN 1
                    ELSE (len(tk) - 64 + 47) // 48 + 1 END AS n_chunks
        FROM toks
    ), idx AS (
        SELECT doc_id, tk, n,
               unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
        FROM base
    )
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           array_to_string(tk[chunk_idx*48 + 1 : least(chunk_idx*48 + 64, n)], ' ')
             AS chunk_text,
           CAST(least(64, n - chunk_idx*48) AS INT) AS n_tokens
    FROM idx
    ORDER BY doc_id, chunk_idx
    """,
)(text_chunk_windows)


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style pretraining-data filters): duplicate
# 2-/3-gram fractions and top-token fraction per document. All map-only
# JVM expressions — the mode count is a sorted-array run-length aggregate
# (functions/texts.py top_token_count), not an explode+groupBy, so the
# whole query is shuffle-free at corpus scale. The DuckDB oracle computes
# the same mode via unnest + GROUP BY — an independent formulation.
# ---------------------------------------------------------------------------


def text_repetition(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.array(X.tokens("text"))).alias("_tk")
    )
    g2 = X.ngrams_of_tokens(F.col("_tk"), 2)
    g3 = X.ngrams_of_tokens(F.col("_tk"), 3)

    def dup_frac(g):
        return F.when(
            F.size(g) > 0,
            F.lit(1.0) - F.size(F.array_distinct(g)).cast("double") / F.size(g),
        )

    return d.select(
        "doc_id",
        F.size("_tk").alias("n_tokens"),
        (X.top_token_count(F.col("_tk")).cast("double") / F.size("_tk")).alias(
            "top_token_frac"
        ),
        dup_frac(g2).alias("dup_2gram_frac"),
        dup_frac(g3).alias("dup_3gram_frac"),
    ).orderBy("doc_id")


register(
    "text_repetition",
    f"""
    WITH toks AS (
        SELECT doc_id, {SQL_TOKENS} AS tk FROM documents
    ), grams AS (
        SELECT doc_id, len(tk) AS n,
               list_transform(generate_series(1, greatest(len(tk) - 1, 0)),
                              i -> array_to_string(tk[i:i+1], ' ')) AS g2,
               list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
                              i -> array_to_string(tk[i:i+2], ' ')) AS g3
        FROM toks
    ), mode_cnt AS (
        SELECT doc_id, max(c) AS mx FROM (
            SELECT doc_id, count(*) AS c
            FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
            GROUP BY doc_id, tok
        ) GROUP BY doc_id
    )
    SELECT g.doc_id,
           g.n AS n_tokens,
           CAST(m.mx AS DOUBLE) / g.n AS top_token_frac,
           CASE WHEN len(g.g2) > 0
                THEN 1.0 - CAST(len(list_distinct(g.g2)) AS DOUBLE) / len(g.g2)
           END AS dup_2gram_frac,
           CASE WHEN len(g.g3) > 0
                THEN 1.0 - CAST(len(list_distinct(g.g3)) AS DOUBLE) / len(g.g3)
           END AS dup_3gram_frac
    FROM grams g JOIN mode_cnt m USING (doc_id)
    ORDER BY g.doc_id
    """,
)(text_repetition)


# ---------------------------------------------------------------------------
# Sequence packing (operators/packing.py): chunk the corpus (64-token
# windows, stride 48, as in text_chunk_windows), then greedily pack the
# chunks per language into 256-token training sequences. Spark runs a
# grouped-map pandas pass; the oracle replays the same greedy scan as a
# DuckDB recursive CTE — an independent sequential formulation.
# ---------------------------------------------------------------------------


def text_pack_sequences(spark, sf_dir):
    from airflow_postgres_csv_spark.operators.chunking import chunk_documents
    from airflow_postgres_csv_spark.operators.packing import pack_sequences

    docs = t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_tokens=64, overlap=16).select(
        "doc_id", "chunk_idx", "n_tokens"
    )
    chunks = chunks.join(docs.select("doc_id", "lang"), "doc_id")
    return pack_sequences(
        chunks,
        group_col="lang",
        order_cols=["doc_id", "chunk_idx"],
        tokens_col="n_tokens",
        budget=256,
    ).orderBy("lang", "doc_id", "chunk_idx")


register(
    "text_pack_sequences",
    f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, lang, {SQL_TOKENS} AS tk FROM documents
    ), base AS (
        SELECT doc_id, lang, len(tk) AS n,
               CASE WHEN len(tk) <= 64 THEN 1
                    ELSE (len(tk) - 64 + 47) // 48 + 1 END AS n_chunks
        FROM toks
    ), chunks AS (
        SELECT doc_id, lang, CAST(chunk_idx AS INT) AS chunk_idx,
               CAST(least(64, n - chunk_idx*48) AS INT) AS n_tokens
        FROM (SELECT doc_id, lang, n,
                     unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
              FROM base)
    ), ord AS (
        SELECT *, row_number() OVER (PARTITION BY lang
                                     ORDER BY doc_id, chunk_idx) AS rn
        FROM chunks
    ), packed AS (
        SELECT lang, rn, doc_id, chunk_idx, n_tokens,
               CAST(0 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS seq_offset,
               CAST(n_tokens AS BIGINT) AS fill
        FROM ord WHERE rn = 1
        UNION ALL
        SELECT o.lang, o.rn, o.doc_id, o.chunk_idx, o.n_tokens,
               CASE WHEN p.fill + o.n_tokens > 256
                    THEN p.seq_id + 1 ELSE p.seq_id END,
               CASE WHEN p.fill + o.n_tokens > 256
                    THEN CAST(0 AS BIGINT) ELSE p.fill END,
               CASE WHEN p.fill + o.n_tokens > 256
                    THEN CAST(o.n_tokens AS BIGINT)
                    ELSE p.fill + o.n_tokens END
        FROM packed p JOIN ord o ON o.lang = p.lang AND o.rn = p.rn + 1
    )
    SELECT doc_id, chunk_idx, n_tokens, lang, seq_id, seq_offset
    FROM packed
    ORDER BY lang, doc_id, chunk_idx
    """,
)(text_pack_sequences)


# ---------------------------------------------------------------------------
# Vocabulary construction: the tokenizer-training precursor — corpus-wide
# term frequencies + document frequencies, top terms first. One explode +
# one shuffle; at 100 TB the groupBy key (token) is Zipf-skewed, which AQE
# skew-split handles (or pre-aggregate per partition — Spark's hash
# aggregate already does map-side partials).
# ---------------------------------------------------------------------------

register(
    "text_vocab_topk",
    f"""
    WITH tk AS (SELECT doc_id, unnest({SQL_TOKENS}) AS token FROM documents)
    SELECT token, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf
    FROM tk GROUP BY token
    ORDER BY tf DESC, token
    LIMIT 100
    """,
)(
    lambda spark, sf_dir: (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(X.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("tf"),
        )
        .orderBy(F.col("tf").desc(), "token")
        .limit(100)
    )
)


# ---------------------------------------------------------------------------
# Inverted-index posting lists for frequent terms: token → sorted doc ids.
# collect_set + sort_array is the right shape ONLY with a df floor/ceiling
# bounding the list length — an unbounded posting list for a stop-word is
# the single-row OOM at corpus scale (same reasoning as the stop-shingle
# cap in dedup). Oracle: DuckDB list(DISTINCT ...) + list_sort.
# ---------------------------------------------------------------------------

register(
    "text_posting_lists",
    f"""
    WITH tk AS (SELECT doc_id, unnest({SQL_TOKENS}) AS token FROM documents),
    v AS (
      SELECT token, list_sort(list(DISTINCT doc_id)) AS postings,
             COUNT(DISTINCT doc_id) AS df
      FROM tk GROUP BY token
    )
    SELECT token, df,
           md5(array_to_string(postings, ',')) AS postings_md5,
           postings[1] AS first_doc,
           postings[len(postings)] AS last_doc
    FROM v
    WHERE df >= 100
    ORDER BY token
    """,
)(
    # Scalar output contract (the driver's pandas canonicalizer cannot sort
    # LIST cells): the sorted posting list is emitted as an md5 digest of its
    # comma-joined decimal ids plus first/last scalars, not as a raw array.
    lambda spark, sf_dir: (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(X.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(
            F.sort_array(F.collect_set("doc_id")).alias("postings"),
            F.countDistinct("doc_id").alias("df"),
        )
        .filter(F.col("df") >= 100)
        .select(
            "token",
            "df",
            F.md5(
                F.array_join(F.transform("postings", lambda x: x.cast("string")), ",")
            ).alias("postings_md5"),
            F.element_at("postings", 1).alias("first_doc"),
            F.element_at("postings", -1).alias("last_doc"),
        )
        .orderBy("token")
    )
)


# ---------------------------------------------------------------------------
# Unigram language-model scoring (CCNet-style quality signal): build the
# token→probability table from the corpus itself, then score each document
# by its mean token log-probability. Rare/garbled documents score low.
# Plan shape: one explode → one token-count agg (map-side partial) → one
# token join (skewed by stop-words at scale — AQE skew split handles it,
# and the token table is tiny relative to the corpus: broadcast candidate)
# → one per-doc agg. Log-probs are rounded to 9 dp and summed as exact
# decimals so the per-doc mean is summation-order independent.
# ---------------------------------------------------------------------------

_UNIGRAM_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, unnest({SQL_TOKENS}) AS tok FROM documents
    ),
    vocab AS (
        SELECT tok, count(*) AS n FROM toks GROUP BY tok
    ),
    total AS (
        SELECT sum(n) AS total_n FROM vocab
    ),
    scored AS (
        SELECT t.doc_id,
               CAST(ROUND(LN(CAST(v.n AS DOUBLE) / total.total_n), 9) AS DECIMAL(18,9)) AS logp
        FROM toks t JOIN vocab v ON t.tok = v.tok CROSS JOIN total
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           CAST(SUM(logp) AS DOUBLE) / count(*) AS avg_logprob
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """


def _unigram_logprob(spark, sf_dir):
    toks = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(X.tokens("text")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    total = vocab.agg(F.sum("n").alias("total_n"))
    return (
        toks.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.round(F.log(F.col("n").cast("double") / F.col("total_n")), 9)
            .cast("decimal(18,9)")
            .alias("logp"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.sum("logp").cast("double") / F.count(F.lit(1))).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


register("text_unigram_logprob", _UNIGRAM_ORACLE)(_unigram_logprob)


# ---------------------------------------------------------------------------
# PII redaction — the pre-training scrub pass. The fixture corpus is
# synthetic and PII-free, so the query plants deterministic fake PII
# (an email and a phone derived from doc_id) and then removes it with the
# JVM-side regex pipeline a real scrubber would use: regexp_count for the
# audit tally, regexp_replace (global) for the rewrite. Output carries an
# md5 of the redacted text so the oracle checks the exact rewritten bytes
# without hauling full documents through the hash comparison.
# ---------------------------------------------------------------------------

_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "555-[0-9]{4}"

register(
    "text_pii_redact",
    f"""
    WITH planted AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text2
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text2, '{_PII_EMAIL}')) AS n_emails,
           len(regexp_extract_all(text2, '{_PII_PHONE}')) AS n_phones,
           md5(regexp_replace(regexp_replace(text2, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                              '{_PII_PHONE}', '<PHONE>', 'g')) AS redacted_md5,
           LENGTH(regexp_replace(regexp_replace(text2, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                                 '{_PII_PHONE}', '<PHONE>', 'g')) AS redacted_len
    FROM planted
    ORDER BY doc_id
    """,
)(
    lambda spark, sf_dir: (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ).alias("text2"),
        )
        .select(
            "doc_id",
            F.regexp_count("text2", F.lit(_PII_EMAIL)).alias("n_emails"),
            F.regexp_count("text2", F.lit(_PII_PHONE)).alias("n_phones"),
            F.md5(
                F.regexp_replace(
                    F.regexp_replace("text2", _PII_EMAIL, "<EMAIL>"),
                    _PII_PHONE,
                    "<PHONE>",
                )
            ).alias("redacted_md5"),
            F.length(
                F.regexp_replace(
                    F.regexp_replace("text2", _PII_EMAIL, "<EMAIL>"),
                    _PII_PHONE,
                    "<PHONE>",
                )
            ).alias("redacted_len"),
        )
        .orderBy("doc_id")
    )
)


# ---------------------------------------------------------------------------
# Okapi BM25 document ranking for a fixed term query. The standard retrieval
# scorer (idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)), Lucene-style
# smoothed idf). Scale shape: tokens are filtered to the query terms BEFORE
# the tf aggregation, so the shuffled volume is |terms|·|docs| rows, not the
# full posting list; dl/avgdl ride the same single explode; the 1-row corpus
# stats and per-term dfs are broadcast. Per-term contributions are rounded
# to 9 dp (1-ulp ln divergence JVM vs libm) and summed as DECIMAL so the
# per-doc score is bit-identical across engines regardless of sum order.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("join", "stream", "filter")
_BM25_K1 = 1.2
_BM25_B = 0.75


def text_bm25_topk(spark, sf_dir):
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(X.tokens("text")).alias("token"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_tok = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_docs"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_docs") + 0.5) / (F.col("df_docs") + 0.5)
    )
    contrib = (
        idf
        * (F.col("tf") * (_BM25_K1 + 1.0))
        / (
            F.col("tf")
            + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(df_tok), "token")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .withColumn("c", F.round(contrib, 9).cast("decimal(28,9)"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("c").cast("double").alias("bm25"),
        )
    )
    # top-20 via sort+limit (planned as TakeOrderedAndProject — per-partition
    # partial top-k, no global shuffle); the unpartitioned rank window then
    # runs over only the 20 survivors, never the full scored set.
    top = scored.orderBy(F.desc("bm25"), "doc_id").limit(20)
    w = Window.orderBy(F.desc("bm25"), "doc_id")
    return (
        top.withColumn("rk", F.row_number().over(w))
        .select("doc_id", "n_terms", "bm25", "rk")
        .orderBy("rk")
    )


register(
    "text_bm25_topk",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({SQL_TOKENS}) AS token FROM documents
    ), dl AS (
        SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1
    ), stats AS (
        SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ), tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM toks
        WHERE token IN {str(tuple(_BM25_TERMS))}
        GROUP BY 1, 2
    ), dfq AS (
        SELECT token, COUNT(*) AS df_docs FROM tf GROUP BY 1
    ), scored AS (
        SELECT doc_id, COUNT(*) AS n_terms,
               CAST(SUM(CAST(ROUND(
                 ln(1.0 + (n_docs - df_docs + 0.5) / (df_docs + 0.5))
                 * (tf * ({_BM25_K1} + 1.0))
                 / (tf + {_BM25_K1}
                    * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl)), 9)
                 AS DECIMAL(28,9))) AS DOUBLE) AS bm25
        FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
        GROUP BY doc_id
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
        FROM scored
    )
    SELECT doc_id, n_terms, bm25, rk FROM ranked WHERE rk <= 20
    ORDER BY rk
    """,
)(text_bm25_topk)


# ---------------------------------------------------------------------------
# Sentence segmentation stats: split on terminal punctuation runs, keep
# non-blank segments, report per-doc sentence count / char totals / longest
# sentence. All-JVM (split + higher-order filter/transform/aggregate — no
# UDF); counts and char sums are exact integers, the mean is one IEEE
# int/int division identical in both engines. The chunking/packing
# operators work in tokens; this is the sentence-level signal quality
# filters use (avg sentence length separates prose from boilerplate).
# ---------------------------------------------------------------------------

_SENT_SPARK = "filter(transform(split(text, '[.!?]+'), x -> trim(x)), x -> length(x) > 0)"
_SENT_DUCK = "list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'), x -> trim(x)), x -> length(x) > 0)"

register(
    "text_sentence_stats",
    f"""
    WITH s AS (SELECT doc_id, lang, {_SENT_DUCK} AS sents FROM documents)
    SELECT doc_id, lang,
           len(sents) AS n_sentences,
           list_reduce(list_prepend(0, list_transform(sents, x -> length(x))), (a, b) -> a + b)
             AS sentence_chars,
           COALESCE(list_max(list_transform(sents, x -> length(x))), 0) AS max_sentence_chars,
           CASE WHEN len(sents) = 0 THEN 0.0
                ELSE CAST(list_reduce(list_prepend(0, list_transform(sents, x -> length(x))), (a, b) -> a + b) AS DOUBLE)
                     / len(sents) END AS avg_sentence_chars
    FROM s
    ORDER BY doc_id
    """,
)(
    lambda spark, sf_dir: (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            F.expr(_SENT_SPARK).alias("sents"),
        )
        .select(
            "doc_id",
            "lang",
            F.size("sents").cast("long").alias("n_sentences"),
            F.aggregate(
                F.transform("sents", lambda x: F.length(x).cast("long")),
                F.lit(0).cast("long"),
                lambda a, b: a + b,
            ).alias("sentence_chars"),
            F.coalesce(
                F.array_max(F.transform("sents", lambda x: F.length(x).cast("long"))),
                F.lit(0).cast("long"),
            ).alias("max_sentence_chars"),
            F.when(F.size("sents") == 0, F.lit(0.0))
            .otherwise(
                F.aggregate(
                    F.transform("sents", lambda x: F.length(x).cast("long")),
                    F.lit(0).cast("long"),
                    lambda a, b: a + b,
                ).cast("double")
                / F.size("sents").cast("double")
            )
            .alias("avg_sentence_chars"),
        )
        .orderBy("doc_id")
    )
)


# ---------------------------------------------------------------------------
# Bigram language-model quality scoring — the step up from
# text_unigram_logprob: P(w2 | w1) with add-one smoothing over the corpus
# vocabulary, per-doc mean conditional log-probability. Repetitive or
# formulaic text scores high, shuffled/garbled text low — a cheap fluency
# signal unigram frequency can't see. Same determinism recipe as the
# unigram query: each log-prob is one IEEE log on an exact integer ratio,
# rounded to 9 dp and summed as exact decimals, one final division.
# Plan: one explode → two hash-aggs (bigram + prefix counts, map-side
# partial) → broadcast joins back (the model tables are vocab-sized,
# tiny relative to a 100 TB corpus) → one per-doc agg.
# ---------------------------------------------------------------------------


def _bigram_logprob(spark, sf_dir):
    toks = t(spark, sf_dir, "documents").select(
        "doc_id", X.tokens("text").alias("tk")
    )
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("tk"), 1, F.greatest(F.size("tk") - 1, F.lit(0))),
                F.slice(F.col("tk"), 2, F.greatest(F.size("tk") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), F.concat_ws(" ", a, b).alias("bg")),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.bg")
    bg_counts = pairs.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
    w1_counts = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c_w1"))
    vsize = (
        t(spark, sf_dir, "documents")
        .select(F.explode(X.tokens("text")).alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    return (
        pairs.join(F.broadcast(bg_counts), "bg")
        .join(F.broadcast(w1_counts), "w1")
        .crossJoin(F.broadcast(vsize))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.col("c_bg") + 1).cast("double")
                    / (F.col("c_w1") + F.col("v")).cast("double")
                ),
                9,
            )
            .cast("decimal(18,9)")
            .alias("logp"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.sum("logp").cast("double") / F.count(F.lit(1))).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


register(
    "text_bigram_logprob",
    f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKENS} AS tk FROM documents
    ),
    pairs AS (
      SELECT doc_id,
             tk[i] AS w1,
             tk[i] || ' ' || tk[i + 1] AS bg
      FROM toks, unnest(generate_series(1, len(tk) - 1)) AS u(i)
    ),
    bgc AS (SELECT bg, COUNT(*) AS c_bg FROM pairs GROUP BY bg),
    w1c AS (SELECT w1, COUNT(*) AS c_w1 FROM pairs GROUP BY w1),
    vs AS (
      SELECT COUNT(DISTINCT tok) AS v
      FROM (SELECT unnest(tk) AS tok FROM toks)
    ),
    scored AS (
      SELECT p.doc_id,
             CAST(ROUND(LN(CAST(c_bg + 1 AS DOUBLE) / CAST(c_w1 + v AS DOUBLE)), 9)
                  AS DECIMAL(18,9)) AS logp
      FROM pairs p JOIN bgc USING (bg) JOIN w1c USING (w1) CROSS JOIN vs
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(logp) AS DOUBLE) / COUNT(*) AS avg_logprob
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)(_bigram_logprob)


# ---------------------------------------------------------------------------
# BPE trainer step — the pair-statistics pass of byte-pair-encoding
# vocabulary induction: collapse the corpus to a word-frequency table
# (tiny vs the corpus — the classic BPE trick), expand each distinct word
# into its adjacent character pairs, and weight each pair by word
# frequency. The top pairs ARE the next merge candidates. One explode ×
# word-length over DISTINCT words only, one hash-agg on a pair keyspace
# (≤ alphabet²), top-k via TakeOrderedAndProject — no global sort.
# ---------------------------------------------------------------------------


def _bpe_merge_pairs(spark, sf_dir):
    words = (
        t(spark, sf_dir, "documents")
        .select(F.explode(X.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.length("w") >= 2)
    )
    pairs = words.select(
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substring(F.col("w"), i, F.lit(2)),
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


register(
    "text_bpe_merge_pairs",
    f"""
    WITH words AS (
      SELECT tok AS w, COUNT(*) AS freq
      FROM (SELECT unnest({SQL_TOKENS}) AS tok FROM documents)
      GROUP BY tok HAVING LENGTH(tok) >= 2
    ),
    pairs AS (
      SELECT substr(w, i, 2) AS pair, freq
      FROM words, unnest(generate_series(1, LENGTH(w) - 1)) AS u(i)
    )
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 20
    """,
)(_bpe_merge_pairs)


# ---------------------------------------------------------------------------
# C4/Gopher-style RULE-BASED filter flags — the boolean gate battery web
# corpora are cleaned with (Raffel et al. C4; Rae et al. Gopher), distinct
# from text_quality_score's composite score: each rule is surfaced
# separately so downstream mixtures can pick their own policy, plus the
# final keep verdict. All flags are JVM Column expressions (one projection,
# no shuffle, no UDF); the mean-word-length band uses exact integer×100
# comparisons so no float ratio is ever compared across engines.
# Rules: word-count band [50, 10k]; mean word length in [3, 10]; at
# least one sentence-like span (the fixture corpus is unpunctuated prose,
# so a C4-faithful "3 terminal-punctuated sentences" bar would reject
# 100% — useless as a gate; the operator shape is what's exercised);
# no "lorem ipsum"; no curly brace (code/markup tell); stopword presence
# (C4's "contains a common English word" proxy).
# ---------------------------------------------------------------------------


def _c4_filter_flags(spark, sf_dir):
    toks = X.tokens("text")
    n_words = F.size(toks)
    # mean word length × 100, exact int: (chars without spaces)*100 / words
    chars = F.length(F.regexp_replace(F.lower("text"), r"\s+", ""))
    mwl100 = F.floor(chars * 100 / n_words).cast("long")
    n_sents = F.size(F.expr(_SENT_SPARK))
    has_lorem = F.lower(F.col("text")).contains("lorem ipsum")
    has_brace = F.col("text").contains("{")
    stop_ok = F.arrays_overlap(
        toks, F.array(*[F.lit(w) for w in ("the", "and", "of", "to", "in")])
    )
    flags = {
        "words_ok": (n_words >= 50) & (n_words <= 10000),
        "mwl_ok": (mwl100 >= 300) & (mwl100 <= 1000),
        "sents_ok": n_sents >= 1,
        "no_lorem": ~has_lorem,
        "no_brace": ~has_brace,
        "stop_ok": stop_ok,
    }
    out = t(spark, sf_dir, "documents").select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        mwl100.alias("mwl100"),
        *[v.cast("int").alias(k) for k, v in flags.items()],
    )
    keep = (
        F.col("words_ok")
        * F.col("mwl_ok")
        * F.col("sents_ok")
        * F.col("no_lorem")
        * F.col("no_brace")
        * F.col("stop_ok")
    )
    return out.withColumn("keep", keep.cast("int")).orderBy("doc_id")


register(
    "text_c4_filters",
    f"""
    WITH base AS (
      SELECT doc_id,
             len({SQL_TOKENS}) AS n_words,
             CAST(floor(LENGTH(regexp_replace(lower(text), '\\s+', '', 'g')) * 100
                        / len({SQL_TOKENS})) AS BIGINT) AS mwl100,
             len({_SENT_DUCK}) AS n_sents,
             contains(lower(text), 'lorem ipsum') AS has_lorem,
             contains(text, '{{') AS has_brace,
             len(list_filter({SQL_TOKENS},
                 x -> x IN ('the','and','of','to','in'))) > 0 AS stop_ok
      FROM documents
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           mwl100,
           CAST(n_words BETWEEN 50 AND 10000 AS INT) AS words_ok,
           CAST(mwl100 BETWEEN 300 AND 1000 AS INT) AS mwl_ok,
           CAST(n_sents >= 1 AS INT) AS sents_ok,
           CAST(NOT has_lorem AS INT) AS no_lorem,
           CAST(NOT has_brace AS INT) AS no_brace,
           CAST(stop_ok AS INT) AS stop_ok,
           CAST((n_words BETWEEN 50 AND 10000) AND (mwl100 BETWEEN 300 AND 1000)
                AND n_sents >= 1 AND NOT has_lorem AND NOT has_brace AND stop_ok
                AS INT) AS keep
    FROM base ORDER BY doc_id
    """,
)(_c4_filter_flags)


# ---------------------------------------------------------------------------
# Character-level Shannon entropy + charset composition — the low-entropy /
# encoding-garbage filter every web-corpus pipeline runs (boilerplate, key
# mash, base64 blobs, wrong-charset mojibake all sit at entropy extremes).
# Determinism: the only transcendental, ln(count), is rounded to 9 dp and
# multiplied into an EXACT decimal (count is an exact integer), so the
# per-doc sum Σ c·ln(c) is an order-independent decimal aggregation — the
# same discipline as text_unigram_logprob. The final
# (ln(n) - s/n) / ln 2 is one fixed-shape IEEE expression over identical
# operands in both engines. Charset ratios are exact integer counts (one
# final division); ASCII-ness via octet_length (UTF-8 multi-byte ⇔
# non-ASCII), whitespace/digit via plain char comparisons — no regex, so
# no RE2-vs-Java class semantics in play. Runs entirely JVM-side:
# split → explode → two hash aggregations.
# ---------------------------------------------------------------------------

register(
    "text_char_entropy",
    """
    WITH chars AS (
        SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
    ), counts AS (
        SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2
    ), per_doc AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_chars,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
               SUM(CAST(c AS DECIMAL(18,0))
                   * CAST(round(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9)))
                   AS s,
               CAST(SUM(CASE WHEN strlen(ch) > 1 THEN c ELSE 0 END) AS BIGINT) AS n_nonascii,
               CAST(SUM(CASE WHEN ch = ' ' THEN c ELSE 0 END) AS BIGINT) AS n_space,
               CAST(SUM(CASE WHEN ch BETWEEN '0' AND '9' THEN c ELSE 0 END) AS BIGINT) AS n_digit
        FROM counts GROUP BY doc_id
    )
    SELECT doc_id, n_chars, n_distinct_chars,
           (round(ln(CAST(n_chars AS DOUBLE)), 9) - CAST(s AS DOUBLE) / n_chars)
               / 0.693147181 AS entropy_bits,
           CAST(n_nonascii AS DOUBLE) / n_chars AS nonascii_ratio,
           CAST(n_space AS DOUBLE) / n_chars AS space_ratio,
           CAST(n_digit AS DOUBLE) / n_chars AS digit_ratio
    FROM per_doc
    ORDER BY doc_id
    """,
)(
    lambda spark, sf_dir: (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_chars"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
            F.sum(
                F.col("c").cast("decimal(18,0)")
                * F.round(F.log(F.col("c").cast("double")), 9).cast(
                    "decimal(18,9)"
                )
            ).alias("s"),
            F.sum(
                F.when(F.octet_length("ch") > 1, F.col("c")).otherwise(0)
            ).alias("n_nonascii"),
            F.sum(F.when(F.col("ch") == " ", F.col("c")).otherwise(0)).alias(
                "n_space"
            ),
            F.sum(
                F.when(
                    (F.col("ch") >= "0") & (F.col("ch") <= "9"), F.col("c")
                ).otherwise(0)
            ).alias("n_digit"),
        )
        .select(
            "doc_id",
            "n_chars",
            "n_distinct_chars",
            (
                (
                    F.round(F.log(F.col("n_chars").cast("double")), 9)
                    - F.col("s").cast("double") / F.col("n_chars")
                )
                / F.lit(0.693147181)
            ).alias("entropy_bits"),
            (F.col("n_nonascii").cast("double") / F.col("n_chars")).alias(
                "nonascii_ratio"
            ),
            (F.col("n_space").cast("double") / F.col("n_chars")).alias(
                "space_ratio"
            ),
            (F.col("n_digit").cast("double") / F.col("n_chars")).alias(
                "digit_ratio"
            ),
        )
        .orderBy("doc_id")
    )
)


# ---------------------------------------------------------------------------
# Per-source token-distribution KL divergence — the data-mixture drift
# diagnostic: KL(P_source ‖ P_corpus) over unigram distributions tells you
# which ingestion source's language deviates from the blend (a crawler gone
# wrong, a template farm, a language mislabel) BEFORE it trains into the
# model. KL_s = (1/N_s) · Σ_t c_st · (ln(c_st/N_s) − ln(n_t/N)); each ln is
# rounded to 9 dp and the Σ is an exact integer × decimal aggregation
# (order-independent), one final IEEE division — the text_unigram_logprob
# discipline. Scale shape: two hash aggregations plus a broadcast join of
# the corpus vocabulary onto the per-source counts; nothing quadratic,
# no Python.
# ---------------------------------------------------------------------------

def _source_kl_divergence(spark, sf_dir):
    # (source, token) counts feed three consumers (corpus vocab, per-source
    # totals, the joined term sum): localCheckpoint so the explode+agg runs
    # once instead of per-branch (no ReusedExchange across DataFrame
    # branches — playbook plan trap).
    st = (
        t(spark, sf_dir, "documents")
        .select("source", F.explode(X.tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    corpus = st.groupBy("tok").agg(F.sum("c").alias("n"))
    totals = st.groupBy("source").agg(F.sum("c").alias("ns"))
    n_total = st.agg(F.sum("c")).first()[0]  # scalar read, metadata-sized
    term = F.col("c").cast("decimal(18,0)") * (
        F.round(F.log(F.col("c").cast("double") / F.col("ns")), 9).cast(
            "decimal(18,9)"
        )
        - F.round(F.log(F.col("n").cast("double") / F.lit(n_total)), 9).cast(
            "decimal(18,9)"
        )
    )
    return (
        st.join(F.broadcast(corpus), "tok")
        .join(F.broadcast(totals), "source")
        .groupBy("source", "ns")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.sum(term).alias("s"),
        )
        .select(
            "source",
            F.col("ns").alias("n_tokens"),
            "n_distinct_tokens",
            (F.col("s").cast("double") / F.col("ns")).alias("kl_nats"),
        )
        .orderBy("source")
    )


register(
    "text_source_kl_divergence",
    f"""
    WITH toks AS (
        SELECT source, unnest({SQL_TOKENS}) AS tok FROM documents
    ), st AS (
        SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2
    ), corpus AS (
        SELECT tok, CAST(SUM(c) AS BIGINT) AS n FROM st GROUP BY tok
    ), totals AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM st GROUP BY source
    ), big AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM st)
    SELECT st.source,
           ns AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
           CAST(SUM(CAST(c AS DECIMAL(18,0)) * (
                    CAST(round(ln(CAST(c AS DOUBLE) / ns), 9) AS DECIMAL(18,9))
                  - CAST(round(ln(CAST(n AS DOUBLE) / n_total), 9) AS DECIMAL(18,9))
                )) AS DOUBLE) / ns AS kl_nats
    FROM st
    JOIN corpus USING (tok)
    JOIN totals USING (source)
    CROSS JOIN big
    GROUP BY st.source, ns, n_total
    ORDER BY st.source
    """,
)(_source_kl_divergence)


# ---------------------------------------------------------------------------
# Flesch reading-ease — the classic readability filter (too-low scores flag
# legalese/spam walls, too-high flag listicle fragments). Heuristic
# syllables = vowel-group runs per word (min 1), sentences = terminal
# punctuation runs (min 1): both are exact integer counts via the same
# RE2/Java-compatible character-class regexes, so the only floats are the
# final fixed-shape Flesch expression over identical integer operands.
# ---------------------------------------------------------------------------

register(
    "text_readability",
    f"""
    WITH words AS (
        SELECT doc_id, unnest({SQL_TOKENS}) AS tok FROM documents
    ), syl AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(GREATEST(1, len(regexp_extract_all(tok, '[aeiouy]+')))) AS BIGINT)
                   AS n_syllables
        FROM words GROUP BY doc_id
    )
    SELECT d.doc_id,
           n_words,
           n_syllables,
           CAST(GREATEST(1, len(regexp_extract_all(d.text, '[.!?]+'))) AS BIGINT)
               AS n_sentences,
           206.835
             - 1.015 * (CAST(n_words AS DOUBLE)
                        / GREATEST(1, len(regexp_extract_all(d.text, '[.!?]+'))))
             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) AS flesch
    FROM documents d JOIN syl USING (doc_id)
    ORDER BY d.doc_id
    """,
)(
    lambda spark, sf_dir: (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text", F.explode(X.tokens("text")).alias("tok"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(
                F.greatest(F.lit(1), F.regexp_count("tok", F.lit("[aeiouy]+")))
            ).alias("n_syllables"),
            F.greatest(
                F.lit(1), F.regexp_count(F.first("text"), F.lit("[.!?]+"))
            ).alias("n_sentences"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_syllables",
            F.col("n_sentences").cast("long").alias("n_sentences"),
            (
                F.lit(206.835)
                - F.lit(1.015)
                * (F.col("n_words").cast("double") / F.col("n_sentences"))
                - F.lit(84.6)
                * (F.col("n_syllables").cast("double") / F.col("n_words"))
            ).alias("flesch"),
        )
        .orderBy("doc_id")
    )
)


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram scoring -- the smoothing that actual
# n-gram LM curation stacks use (CCNet's KenLM models are modified-KN):
# P(w2|w1) = max(c(w1,w2)-D, 0)/c(w1.) + D*N1+(w1.)/c(w1.) * Pcont(w2),
# Pcont(w2) = N1+(.w2)/|bigram types|, with absolute discount D = 0.75
# (exactly 3/4 -- a dyadic rational, so the subtraction is exact IEEE).
# All model quantities are integer counts; every scored probability is a
# fixed parenthesization of exact-integer doubles, so LN's argument is
# bit-identical across engines and the 9-dp rounded log sums exactly.
#
# Plan: one bigram explode -> ONE (w1,w2) model hash-agg, localCheckpointed
# (lazy) because four consumers derive from it (c_bg join, per-w1 stats,
# per-w2 continuation stats, the 1-row type-count scalar) and Spark has no
# ReusedExchange across DataFrame branches; the three model tables are
# vocab-bounded and broadcast back -- at 100 TB the corpus is touched once.
# ---------------------------------------------------------------------------


def _kneser_ney_bigram(spark, sf_dir):
    toks = t(spark, sf_dir, "documents").select(
        "doc_id", X.tokens("text").alias("tk")
    )
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("tk"), 1, F.greatest(F.size("tk") - 1, F.lit(0))),
                F.slice(F.col("tk"), 2, F.greatest(F.size("tk") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    bgm = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_bg"))
        .localCheckpoint(eager=False)
    )
    w1m = bgm.groupBy("w1").agg(
        F.sum("c_bg").alias("c_w1"), F.count(F.lit(1)).alias("n1p_w1")
    )
    w2m = bgm.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_w2"))
    types = bgm.agg(F.count(F.lit(1)).alias("n_types"))
    scored = (
        pairs.join(F.broadcast(bgm), ["w1", "w2"])
        .join(F.broadcast(w1m), "w1")
        .join(F.broadcast(w2m), "w2")
        .crossJoin(F.broadcast(types))
        .select(
            "doc_id",
            F.round(
                F.log(
                    F.greatest(F.col("c_bg").cast("double") - 0.75, F.lit(0.0))
                    / F.col("c_w1").cast("double")
                    + (0.75 * F.col("n1p_w1").cast("double") / F.col("c_w1").cast("double"))
                    * (F.col("n1p_w2").cast("double") / F.col("n_types").cast("double"))
                ),
                9,
            )
            .cast("decimal(18,9)")
            .alias("logp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.sum("logp").cast("double") / F.count(F.lit(1))).alias("avg_kn_logprob"),
        )
        .orderBy("doc_id")
    )


register(
    "text_kneser_ney_bigram",
    f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKENS} AS tk FROM documents
    ),
    pairs AS (
      SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
      FROM toks, unnest(generate_series(1, len(tk) - 1)) AS u(i)
    ),
    bgm AS MATERIALIZED (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_bg FROM pairs GROUP BY w1, w2
    ),
    w1m AS (
      SELECT w1, CAST(SUM(c_bg) AS BIGINT) AS c_w1,
             CAST(COUNT(*) AS BIGINT) AS n1p_w1
      FROM bgm GROUP BY w1
    ),
    w2m AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p_w2 FROM bgm GROUP BY w2),
    types AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM bgm),
    scored AS (
      SELECT p.doc_id,
             CAST(ROUND(LN(
               GREATEST(CAST(c_bg AS DOUBLE) - 0.75, 0.0) / CAST(c_w1 AS DOUBLE)
               + (0.75 * CAST(n1p_w1 AS DOUBLE) / CAST(c_w1 AS DOUBLE))
                 * (CAST(n1p_w2 AS DOUBLE) / CAST(n_types AS DOUBLE))
             ), 9) AS DECIMAL(18,9)) AS logp
      FROM pairs p
      JOIN bgm USING (w1, w2)
      JOIN w1m USING (w1)
      JOIN w2m USING (w2)
      CROSS JOIN types
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(logp) AS DOUBLE) / COUNT(*) AS avg_kn_logprob
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)(_kneser_ney_bigram)


# ---------------------------------------------------------------------------
# Hybrid retrieval with reciprocal-rank fusion -- the modern RAG-stack
# default: fuse a lexical BM25 ranking (same model as text_bm25_topk)
# with a semantic cosine ranking against a query vector (the embedding
# paired with doc 0), RRF(d) = sum over legs of 1/(60 + rank_leg(d)).
#
# Scale shape: each leg TRUNCATES to its top-50 via sort+limit
# (TakeOrderedAndProject -- per-partition partial top-k, no global
# shuffle) BEFORE any rank window runs, so the unpartitioned windows see
# at most 50 survivor rows regardless of corpus size -- fusing truncated
# per-retriever lists is exactly how production hybrid search works. The
# fusion itself is a 50-vs-50 full outer join.
#
# Determinism: ranks are integers under bit-identical orderings (BM25
# per-term contributions are 9-dp decimals; cosines are identical
# sequential folds of decimal-grid doubles), and each RRF term is ONE
# division 1.0/(60+rank) of exact integers followed by ONE add.
# ---------------------------------------------------------------------------


def _search_hybrid_rrf(spark, sf_dir):
    from pyspark.sql.window import Window

    # lexical leg: text_bm25_topk's exact model, rebuilt at depth 50
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(X.tokens("text")).alias("token"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_tok = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_docs"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_docs") + 0.5) / (F.col("df_docs") + 0.5)
    )
    contrib = (
        idf
        * (F.col("tf") * (_BM25_K1 + 1.0))
        / (
            F.col("tf")
            + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    lex = (
        tf.join(F.broadcast(df_tok), "token")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .withColumn("c", F.round(contrib, 9).cast("decimal(28,9)"))
        .groupBy("doc_id")
        .agg(F.sum("c").cast("double").alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(50)
    )
    w_lex = Window.orderBy(F.desc("bm25"), "doc_id")
    lex_r = lex.select("doc_id", F.row_number().over(w_lex).alias("r_lex"))

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    dot = "aggregate(zip_with(v, qv, (a, b) -> a * b), cast(0.0 as double), (s, x) -> s + x)"
    nrm = (
        "sqrt(aggregate(zip_with({a}, {a}, (x, y) -> x * y),"
        " cast(0.0 as double), (s, x) -> s + x))"
    )
    cos = F.expr(f"{dot} / ({nrm.format(a='v')} * {nrm.format(a='qv')})")
    sem = (
        emb.crossJoin(F.broadcast(qv))
        .select(F.col("vec_id").alias("doc_id"), cos.alias("cosine"))
        .orderBy(F.desc("cosine"), "doc_id")
        .limit(50)
    )
    w_sem = Window.orderBy(F.desc("cosine"), "doc_id")
    sem_r = sem.select("doc_id", F.row_number().over(w_sem).alias("r_sem"))

    fused = lex_r.join(sem_r, "doc_id", "full_outer").select(
        "doc_id",
        "r_lex",
        "r_sem",
        (
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_sem")), F.lit(0.0))
        ).alias("rrf"),
    )
    w_f = Window.orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.orderBy(F.desc("rrf"), "doc_id")
        .limit(20)
        .withColumn("rk", F.row_number().over(w_f))
        .orderBy("rk")
    )


register(
    "search_hybrid_rrf",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({SQL_TOKENS}) AS token FROM documents
    ), dl AS (
        SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1
    ), stats AS (
        SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ), tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM toks
        WHERE token IN {str(tuple(_BM25_TERMS))}
        GROUP BY 1, 2
    ), dfq AS (
        SELECT token, COUNT(*) AS df_docs FROM tf GROUP BY 1
    ), scored AS (
        SELECT doc_id,
               CAST(SUM(CAST(ROUND(
                 ln(1.0 + (n_docs - df_docs + 0.5) / (df_docs + 0.5))
                 * (tf * ({_BM25_K1} + 1.0))
                 / (tf + {_BM25_K1}
                    * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl)), 9)
                 AS DECIMAL(28,9))) AS DOUBLE) AS bm25
        FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
        GROUP BY doc_id
    ), lex AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
        FROM scored QUALIFY r_lex <= 50
    ), ev AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), qv AS (SELECT v AS qv FROM ev WHERE vec_id = 0), cosines AS (
        SELECT vec_id AS doc_id,
               list_reduce(list_transform(list_zip(v, qv), s -> s[1] * s[2]), (a, b) -> a + b)
               / (SQRT(list_reduce(list_transform(list_zip(v, v), s -> s[1] * s[2]), (a, b) -> a + b))
                  * SQRT(list_reduce(list_transform(list_zip(qv, qv), s -> s[1] * s[2]), (a, b) -> a + b))) AS cosine
        FROM ev CROSS JOIN qv
    ), sem AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS r_sem
        FROM cosines QUALIFY r_sem <= 50
    ), fused AS (
        SELECT doc_id,
               CAST(r_lex AS INT) AS r_lex, CAST(r_sem AS INT) AS r_sem,
               COALESCE(CAST(1.0 AS DOUBLE) / (60 + r_lex), CAST(0.0 AS DOUBLE))
                 + COALESCE(CAST(1.0 AS DOUBLE) / (60 + r_sem), CAST(0.0 AS DOUBLE)) AS rrf
        FROM lex FULL OUTER JOIN sem USING (doc_id)
    )
    SELECT doc_id, r_lex, r_sem, rrf,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rk
    FROM fused QUALIFY rk <= 20
    ORDER BY rk
    """,
)(_search_hybrid_rrf)


# ---------------------------------------------------------------------------
# PERSISTED BM25 index (round 7, operators/text_index.py): the corpus is
# tokenized once into a snapshot-table inverted index (postings clustered
# + Bloom-indexed on token, corpus stats in the manifest), then the SAME
# term query as text_bm25_topk is served from the index — no tokenization,
# no documents scan, posting files term-pruned by zone maps + Bloom. The
# oracle is text_bm25_topk's SQL verbatim: the served ranking must be
# bit-identical to the from-scratch computation.
# ---------------------------------------------------------------------------


def text_index_bm25_search(spark, sf_dir):
    from airflow_postgres_csv_spark.operators.text_index import (
        text_index_build,
        text_index_search,
    )
    from airflow_postgres_csv_spark.queries.snapshot_queries import _temp_root

    index_root = _temp_root()
    text_index_build(t(spark, sf_dir, "documents"), index_root)
    return text_index_search(
        spark, index_root, list(_BM25_TERMS), k=20, k1=_BM25_K1, b=_BM25_B
    )


register(
    "text_index_bm25_search",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({SQL_TOKENS}) AS token FROM documents
    ), dl AS (
        SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1
    ), stats AS (
        SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ), tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM toks
        WHERE token IN {str(tuple(_BM25_TERMS))}
        GROUP BY 1, 2
    ), dfq AS (
        SELECT token, COUNT(*) AS df_docs FROM tf GROUP BY 1
    ), scored AS (
        SELECT doc_id, COUNT(*) AS n_terms,
               CAST(SUM(CAST(ROUND(
                 ln(1.0 + (n_docs - df_docs + 0.5) / (df_docs + 0.5))
                 * (tf * ({_BM25_K1} + 1.0))
                 / (tf + {_BM25_K1}
                    * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl)), 9)
                 AS DECIMAL(28,9))) AS DOUBLE) AS bm25
        FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
        GROUP BY doc_id
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
        FROM scored
    )
    SELECT doc_id, n_terms, bm25, rk FROM ranked WHERE rk <= 20
    ORDER BY rk
    """,
)(text_index_bm25_search)


# ---------------------------------------------------------------------------
# Incremental index maintenance: build over half the corpus, APPEND the
# other half (one commit of the new postings + exact integer stat
# updates, existing files untouched), search — the oracle is the SAME
# full-corpus BM25 SQL, so incremental must equal from-scratch exactly.
# ---------------------------------------------------------------------------


def text_index_incremental_search(spark, sf_dir):
    from airflow_postgres_csv_spark.operators.text_index import (
        text_index_append,
        text_index_build,
        text_index_search,
    )
    from airflow_postgres_csv_spark.queries.snapshot_queries import _temp_root

    index_root = _temp_root()
    docs = t(spark, sf_dir, "documents")
    text_index_build(docs.where(F.col("doc_id") % 2 == 0), index_root)
    text_index_append(docs.where(F.col("doc_id") % 2 == 1), index_root)
    return text_index_search(
        spark, index_root, list(_BM25_TERMS), k=20, k1=_BM25_K1, b=_BM25_B
    )


register(
    "text_index_incremental_search",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({SQL_TOKENS}) AS token FROM documents
    ), dl AS (
        SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1
    ), stats AS (
        SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ), tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM toks
        WHERE token IN {str(tuple(_BM25_TERMS))}
        GROUP BY 1, 2
    ), dfq AS (
        SELECT token, COUNT(*) AS df_docs FROM tf GROUP BY 1
    ), scored AS (
        SELECT doc_id, COUNT(*) AS n_terms,
               CAST(SUM(CAST(ROUND(
                 ln(1.0 + (n_docs - df_docs + 0.5) / (df_docs + 0.5))
                 * (tf * ({_BM25_K1} + 1.0))
                 / (tf + {_BM25_K1}
                    * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl)), 9)
                 AS DECIMAL(28,9))) AS DOUBLE) AS bm25
        FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
        GROUP BY doc_id
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
        FROM scored
    )
    SELECT doc_id, n_terms, bm25, rk FROM ranked WHERE rk <= 20
    ORDER BY rk
    """,
)(text_index_incremental_search)


# ---------------------------------------------------------------------------
# Positional phrase search (round 8): the index built with
# positions=True carries per-posting occurrence positions (Lucene's
# positional postings), and text_index_phrase_search serves an EXACT
# phrase query from the term-pruned posting files alone — align each
# term's positions by its phrase offset, intersect, count. The oracle is
# the ANSI definition: self-join consecutive token positions.
# ---------------------------------------------------------------------------


def text_index_phrase(spark, sf_dir):
    from airflow_postgres_csv_spark.operators.text_index import (
        text_index_build,
        text_index_phrase_search,
    )
    from airflow_postgres_csv_spark.queries.snapshot_queries import _temp_root

    index_root = _temp_root()
    text_index_build(
        t(spark, sf_dir, "documents"), index_root, positions=True
    )
    return text_index_phrase_search(
        spark, index_root, "value table", k=20
    ).select(
        "doc_id", F.col("n_occurrences").cast("long").alias("n_occurrences"), "rk"
    )


register(
    "text_index_phrase_search",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({SQL_TOKENS}) AS token,
               generate_subscripts({SQL_TOKENS}, 1) AS pos
        FROM documents
    ), hits AS (
        SELECT t0.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM toks t0
        JOIN toks t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
        WHERE t0.token = 'value' AND t1.token = 'table'
        GROUP BY t0.doc_id
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, doc_id) AS rk
        FROM hits
    )
    SELECT doc_id, n_occurrences, rk FROM ranked WHERE rk <= 20 ORDER BY rk
    """,
)(text_index_phrase)

# ---------------------------------------------------------------------------
# LIVE streaming index maintenance (round 9, streaming/sinks.py::
# text_index_batch): a document stream keeps the persisted BM25
# index fresh — the first micro-batch BUILDS it, later batches run
# text_index_append, and the micro-batch id is stamped inside the same
# atomic manifest publish as the postings + exact integer stats, so a
# crash-replayed batch can never double-count. The query feeds two
# micro-batches, STOPS the stream, restarts it from the same checkpoint
# for a third batch, and serves the same term query as text_bm25_topk
# from the live index; the oracle is the full-corpus BM25 SQL verbatim —
# the streamed index must score bit-identically to a from-scratch build,
# across the restart. restart_ok pins that the restart appended exactly
# one commit (3 index versions, batch high-water 2).
# ---------------------------------------------------------------------------


def streaming_text_index_live(spark, sf_dir):
    import os
    import shutil

    from airflow_postgres_csv_spark.operators.snapshots import (
        _max_stamp,
        snapshot_versions,
    )
    from airflow_postgres_csv_spark.operators.text_index import (
        text_index_search,
    )
    from airflow_postgres_csv_spark.queries.snapshot_queries import _temp_root
    from airflow_postgres_csv_spark.streaming.sinks import (
        start_batch_sink,
        text_index_batch,
    )

    docs = t(spark, sf_dir, "documents")
    src = os.path.join(_temp_root(), "src")
    os.makedirs(src)
    staged = []
    for i in range(3):
        part_dir = os.path.join(_temp_root(), f"third{i}")
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(part_dir)
        part = next(
            n for n in os.listdir(part_dir)
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        )
        staged.append(os.path.join(part_dir, part))
    for i in (0, 1):
        dst = os.path.join(src, f"{i:03d}.parquet")
        shutil.move(staged[i], dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))
    schema = docs.schema
    index_root = _temp_root()
    ckpt = os.path.join(_temp_root(), "ckpt")

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    def body(df, bid):
        return text_index_batch(df, bid, index_root)

    q = start_batch_sink(stream(), body, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # late arrival + RESTART from the same checkpoint: batches 0/1 are
    # behind the offset log, only the new file becomes batch 2
    shutil.move(staged[2], os.path.join(src, "002.parquet"))
    q2 = start_batch_sink(stream(), body, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    restart_ok = int(
        len(snapshot_versions(index_root)) == 3
        and _max_stamp(index_root, "last_batch_id", -1) == 2
    )
    return text_index_search(
        spark, index_root, list(_BM25_TERMS), k=20, k1=_BM25_K1, b=_BM25_B
    ).withColumn("restart_ok", F.lit(restart_ok))


register(
    "streaming_text_index_live",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({SQL_TOKENS}) AS token FROM documents
    ), dl AS (
        SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1
    ), stats AS (
        SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ), tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM toks
        WHERE token IN {str(tuple(_BM25_TERMS))}
        GROUP BY 1, 2
    ), dfq AS (
        SELECT token, COUNT(*) AS df_docs FROM tf GROUP BY 1
    ), scored AS (
        SELECT doc_id, COUNT(*) AS n_terms,
               CAST(SUM(CAST(ROUND(
                 ln(1.0 + (n_docs - df_docs + 0.5) / (df_docs + 0.5))
                 * (tf * ({_BM25_K1} + 1.0))
                 / (tf + {_BM25_K1}
                    * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl)), 9)
                 AS DECIMAL(28,9))) AS DOUBLE) AS bm25
        FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
        GROUP BY doc_id
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
        FROM scored
    )
    SELECT doc_id, n_terms, bm25, rk, 1 AS restart_ok FROM ranked WHERE rk <= 20
    ORDER BY rk
    """,
)(streaming_text_index_live)


def text_quality_classifier(spark, sf_dir):
    """Trained quality/domain classifier (operators/classifier.py):
    multinomial Naive Bayes over md5-hashed token buckets — the
    closed-form member of the fastText/NB-SVM linear-classifier family
    the LLM-data pipelines use for corpus filtering. ONE distributed
    pass trains the O(n_buckets) model (per-bucket add-one-smoothed
    log-likelihood ratios + class prior); scoring is a broadcast join +
    exact decimal sum, so every per-doc logit is bit-identical to the
    oracle's plain-SQL replay. Pseudo-labels y = (lang = 'en'); the
    accuracy floor is pinned in tests, bit-exactness here."""
    from airflow_postgres_csv_spark.operators.classifier import (
        train_quality_classifier,
    )

    docs = t(spark, sf_dir, "documents")
    _, scored = train_quality_classifier(docs, F.col("lang") == "en")
    return scored.orderBy("doc_id")


_CLF_ORACLE = f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             unnest({SQL_TOKENS}) AS tok
      FROM documents
    ),
    f AS MATERIALIZED (
      SELECT doc_id, any_value(y) AS y,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 256 AS b,
             COUNT(*) AS cnt
      FROM toks GROUP BY doc_id, b
    ),
    st AS MATERIALIZED (
      SELECT b, SUM(cnt * y) AS c1, SUM(cnt * (1 - y)) AS c0
      FROM f GROUP BY b
    ),
    tt AS (SELECT SUM(c1) AS t1, SUM(c0) AS t0 FROM st),
    w AS MATERIALIZED (
      SELECT st.b,
             CAST(ROUND(LN(CAST((st.c1 + 1) * (tt.t0 + 256) AS DOUBLE)
                           / CAST((st.c0 + 1) * (tt.t1 + 256) AS DOUBLE)), 9)
                  AS DECIMAL(18,9)) AS llr
      FROM st, tt
    ),
    pr AS (
      SELECT CAST(ROUND(LN(CAST(n1 AS DOUBLE) / n0), 9) AS DECIMAL(18,9)) AS prior
      FROM (SELECT COUNT(DISTINCT CASE WHEN y = 1 THEN doc_id END) AS n1,
                   COUNT(DISTINCT CASE WHEN y = 0 THEN doc_id END) AS n0
            FROM f)
    )
    SELECT f.doc_id, any_value(f.y) AS y,
           CAST(CAST(SUM(CAST(f.cnt AS DECIMAL(10,0)) * w.llr) AS DECIMAL(28,9))
                + (SELECT prior FROM pr) AS DOUBLE) AS score,
           CAST((CAST(SUM(CAST(f.cnt AS DECIMAL(10,0)) * w.llr) AS DECIMAL(28,9))
                 + (SELECT prior FROM pr)) >= 0 AS INT) AS pred
    FROM f JOIN w USING (b)
    GROUP BY f.doc_id ORDER BY f.doc_id"""


register("text_quality_classifier", _CLF_ORACLE)(text_quality_classifier)


def sample_classifier_topk(spark, sf_dir):
    """Classifier-driven data selection — the DCLM-baseline pipeline
    step: train the one-pass Naive Bayes filter, then keep the top 100
    documents by logit (ties broken by doc_id; exact decimal logits
    make the cut deterministic). The global rank comes from the
    distributed global-order machinery (operators/global_order.py); the
    oracle replays model + ranking in plain SQL."""
    from airflow_postgres_csv_spark.operators.classifier import (
        train_quality_classifier,
    )
    from airflow_postgres_csv_spark.operators.global_order import (
        with_global_order_stats,
    )

    docs = t(spark, sf_dir, "documents")
    _, scored = train_quality_classifier(docs, F.col("lang") == "en")
    # the distributed global-order machinery (value-range buckets +
    # broadcast offsets), NOT a single-partition row_number window —
    # at corpus scale `scored` is one row per document
    ranked = with_global_order_stats(
        scored, "score", descending=True, tiebreak="doc_id", rank_col="rank"
    )
    return (
        ranked.where(F.col("rank") <= 100)
        .select(
            "doc_id", "y", F.round("score", 9).alias("score9"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("rank")
    )


register(
    "sample_classifier_topk",
    _CLF_ORACLE.replace(
        """
    SELECT f.doc_id, any_value(f.y) AS y,
           CAST(CAST(SUM(CAST(f.cnt AS DECIMAL(10,0)) * w.llr) AS DECIMAL(28,9))
                + (SELECT prior FROM pr) AS DOUBLE) AS score,
           CAST((CAST(SUM(CAST(f.cnt AS DECIMAL(10,0)) * w.llr) AS DECIMAL(28,9))
                 + (SELECT prior FROM pr)) >= 0 AS INT) AS pred
    FROM f JOIN w USING (b)
    GROUP BY f.doc_id ORDER BY f.doc_id""",
        """
    , sc AS (
      SELECT f.doc_id, any_value(f.y) AS y,
             CAST(CAST(SUM(CAST(f.cnt AS DECIMAL(10,0)) * w.llr) AS DECIMAL(28,9))
                  + (SELECT prior FROM pr) AS DOUBLE) AS score
      FROM f JOIN w USING (b)
      GROUP BY f.doc_id
    )
    SELECT doc_id, y, ROUND(score, 9) AS score9,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
    FROM sc QUALIFY rank <= 100 ORDER BY rank""",
    ),
)(sample_classifier_topk)


def streaming_classifier_live(spark, sf_dir):
    """Score-on-ingest (streaming/sinks.py::classifier_scoring_batch —
    VERDICT r9 item 6): the trained quality classifier gates a LIVE
    document stream. The model trains once and persists as a snapshot
    generation; two micro-batches (documents split by doc_id parity)
    stream through the sink with a CHECKPOINTED RESTART between them,
    ``drop_rejected=True`` keeps only predicted-quality rows, and every
    commit stamps the scoring model's version inside its atomic publish.
    Live per-doc logits are bit-identical to the batch replay, so the
    plain-SQL oracle applies verbatim; structural flags pin the restart
    (2 commits, batch gate at 1) and the model stamp."""
    import os
    import shutil

    from airflow_postgres_csv_spark.operators.classifier import (
        load_classifier,
        save_classifier,
        train_quality_classifier,
    )
    from airflow_postgres_csv_spark.operators.snapshots import (
        _load_manifest,
        _max_stamp,
        snapshot_read,
        snapshot_versions,
    )
    from airflow_postgres_csv_spark.queries.snapshot_queries import _temp_root
    from airflow_postgres_csv_spark.streaming.sinks import (
        classifier_scoring_batch,
        start_batch_sink,
    )

    docs = t(spark, sf_dir, "documents")
    model, _ = train_quality_classifier(docs, F.col("lang") == "en")
    model_root = _temp_root()
    save_classifier(spark, model, model_root)

    from airflow_postgres_csv_spark.queries._helpers import (
        stage_single_parquet,
    )

    src = os.path.join(_temp_root(), "src")
    os.makedirs(src)
    staged = []
    for i in (0, 1):
        part_path = os.path.join(_temp_root(), f"half{i}.parquet")
        stage_single_parquet(
            docs.where(F.pmod("doc_id", F.lit(2)) == i),
            part_path,
            1_000_000 + i,
        )
        staged.append(part_path)
    shutil.move(staged[0], os.path.join(src, "000.parquet"))
    schema = docs.schema
    ckpt = os.path.join(_temp_root(), "ckpt")
    root = _temp_root()

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    # the generation is pinned once, before the stream starts
    model_version = snapshot_versions(model_root)[-1]
    frozen = load_classifier(spark, model_root, model_version)

    def sink(s):
        return start_batch_sink(
            s,
            lambda df, bid: classifier_scoring_batch(
                df, bid, root, frozen, model_version, drop_rejected=True
            ),
            ckpt,
        )

    q = sink(stream())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    shutil.move(staged[1], os.path.join(src, "001.parquet"))
    q2 = sink(stream())
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    versions = snapshot_versions(root)
    restart_ok = int(
        len(versions) == 2 and _max_stamp(root, "last_batch_id", -1) == 1
    )
    model_ok = int(
        all(
            _load_manifest(root, v).get("classifier_model", {}).get("version")
            == 1
            for v in versions
        )
    )
    return (
        snapshot_read(spark, root)
        .select(
            "doc_id",
            F.round("score", 9).alias("score9"),
            "pred",
            F.lit(restart_ok).alias("restart_ok"),
            F.lit(model_ok).alias("model_ok"),
        )
        .orderBy("doc_id")
    )


register(
    "streaming_classifier_live",
    _CLF_ORACLE.replace(
        """
    SELECT f.doc_id, any_value(f.y) AS y,
           CAST(CAST(SUM(CAST(f.cnt AS DECIMAL(10,0)) * w.llr) AS DECIMAL(28,9))
                + (SELECT prior FROM pr) AS DOUBLE) AS score,
           CAST((CAST(SUM(CAST(f.cnt AS DECIMAL(10,0)) * w.llr) AS DECIMAL(28,9))
                 + (SELECT prior FROM pr)) >= 0 AS INT) AS pred
    FROM f JOIN w USING (b)
    GROUP BY f.doc_id ORDER BY f.doc_id""",
        """
    , sc AS (
      SELECT f.doc_id,
             CAST(CAST(SUM(CAST(f.cnt AS DECIMAL(10,0)) * w.llr) AS DECIMAL(28,9))
                  + (SELECT prior FROM pr) AS DOUBLE) AS score,
             CAST((CAST(SUM(CAST(f.cnt AS DECIMAL(10,0)) * w.llr) AS DECIMAL(28,9))
                   + (SELECT prior FROM pr)) >= 0 AS INT) AS pred
      FROM f JOIN w USING (b)
      GROUP BY f.doc_id
    )
    SELECT doc_id, ROUND(score, 9) AS score9, pred,
           1 AS restart_ok, 1 AS model_ok
    FROM sc WHERE pred = 1 ORDER BY doc_id""",
    ),
)(streaming_classifier_live)
