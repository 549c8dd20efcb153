"""Deduplication operators for LLM-data pipelines (SURVEY.md §2.3):

- exact dedup (hash-groupBy),
- exact n-gram Jaccard similarity join (shingle-explode + equi-join),
- MinHash + LSH near-dup (shingle → signature → band → bucket join),
- SimHash (64-bit) with bank-blocked Hamming candidates,
- embedding-cosine near-dup.

All batch operators are pure DataFrame compositions — no Python UDFs — so
they run JVM-side and scale with executors.

100 TB design notes (apply to every operator here):
- The only all-pairs computation ever performed is *within candidate
  buckets* (shared shingle / LSH band / SimHash bank / block key). Bucket
  sizes are bounded by data skew, not dataset size; hot buckets (stop-
  shingles) should be dropped via a document-frequency cap before the join
  (``max_shingle_df``).
- Every join key is a hash (uniform distribution → no skew); AQE skew-join
  handles residual imbalance.
- Hash functions are MD5 here so results are engine-portable and
  differentially testable; swap ``F.md5`` → ``F.xxhash64`` for production
  (same shapes, ~4× cheaper).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from airflow_postgres_csv_spark.functions import texts as X

__all__ = [
    "dedup_exact",
    "ngram_jaccard_pairs",
    "jaccard_prefix_pairs",
    "minhash_signatures",
    "minhash_band_buckets",
    "minhash_near_dup_pairs",
    "simhash_bits",
    "simhash_near_dup_pairs",
    "embedding_near_dup_pairs",
    "incremental_exact_matches",
    "ngram_containment_pairs",
    "segment_dedup_clean",
    "semantic_dedup",
]


def dedup_exact(
    df: DataFrame, key: Column | list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: keep the minimum id per key; one hash-agg shuffle.

    Returns (key, survivor_id, n_dups). The reference has no dedup —
    this is extension surface; semantics = SQL ``GROUP BY key``.
    """
    key_cols = [F.col(c) for c in key] if isinstance(key, list) else [key.alias("dedup_key")]
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("survivor_id"), F.count(F.lit(1)).alias("n_dups")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join.

    Shape: explode distinct shingles → (optionally drop shingles appearing
    in > ``max_shingle_df`` docs — the stop-shingle/skew guard) → self
    equi-join on shingle (+ block key) → count common shingles per pair →
    jaccard = common / (|A| + |B| - common) → filter ≥ threshold.

    Only documents sharing ≥1 shingle ever meet, so the complexity is
    Σ_bucket |bucket|², not N².

    Plan shape (one shuffle-join + one agg, no size-lookup joins): the
    distinct shingle set is built as an *array projection* per document
    (``array_distinct`` — no distinct() shuffle), its size rides through
    the explode on both join sides, and the join key is ``xxhash64`` of
    the shingle (fixed 8-byte key instead of the n-gram string; a cross-
    document 64-bit collision would need ~2³² distinct shingles to become
    likely — far beyond any real shingle universe per join). The shingle
    set + its size are packed into ONE struct emitted by a generator, so
    the tokenize→ngram expression is evaluated exactly once per document
    — CollapseProject would otherwise inline it into both ``size()`` and
    ``explode()`` (see texts.ngrams_of_tokens on the O(tokens²) trap).
    The explicit ``repartition`` on the hashed shingle is the exchange
    both self-join sides reuse, so the whole document scan + shingling
    runs once, not once per side.
    """
    blk = [block_col] if block_col else []
    packed = df.select(
        id_col,
        *blk,
        F.explode(
            F.transform(
                F.array(F.array_distinct(X.token_ngrams(text_col, n))),
                lambda a: F.struct(F.size(a).alias("n"), a.alias("shs")),
            )
        ).alias("_p"),
    )
    sh = (
        packed.select(
            id_col,
            *blk,
            F.col("_p.n").alias("n_shingles"),
            F.explode("_p.shs").alias("shingle"),
        )
        .withColumn("shingle", F.xxhash64("shingle"))
        .repartition(F.col("shingle"))
    )
    if max_shingle_df is not None:
        # Stop-shingle filter as a count window over the shingle key: the
        # window's required partitioning IS the repartition above, so it
        # adds only a sort — measured ~2× faster than the equivalent
        # groupBy + anti-join at sf0.1. Hot shingles leave both the pair
        # counts and the doc sizes, so |A| is recomputed post-filter
        # (second window, one id-shuffle) to keep jaccard exact.
        sh = (
            sh.withColumn(
                "df_count",
                F.count(F.lit(1)).over(Window.partitionBy("shingle")),
            )
            .filter(F.col("df_count") <= max_shingle_df)
            .drop("df_count")
            .withColumn(
                "n_shingles",
                F.count(F.lit(1)).over(Window.partitionBy(id_col, *blk)),
            )
        )
    a = sh.select(*blk, F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"), "shingle")
    b = sh.select(*blk, F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"), "shingle")
    return (
        a.join(b, blk + ["shingle"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard join via **prefix filtering** (AllPairs/PPJoin candidate
    generation — Bayardo et al. WWW'07, Xiao et al. WWW'08).

    Same results as :func:`ngram_jaccard_pairs` (uncapped), different scale
    shape: instead of equi-joining on EVERY shingle, each document indexes
    only its *prefix* — the first ``|A| - ceil(t·|A|) + 1`` shingles under a
    global rarest-first total order ``(document frequency, shingle)``. Two
    sets with Jaccard ≥ t must share a prefix shingle (PPJoin Lemma 1), so
    candidate generation is complete, while frequent shingles — the
    quadratic join buckets — fall OUT of most prefixes instead of needing a
    hard df cap. Verification then computes the exact Jaccard per candidate
    pair from the full per-doc shingle arrays (`array_intersect`, one
    broadcast-free equi-join per side), so the filter only ever *removes*
    work, never changes the answer.

    Shuffle inventory: one shingle-keyed exchange (df counts + per-doc
    rarity rank ride on windows over the same partitioning), one candidate
    self-join on prefix shingles, two id-keyed joins to attach the packed
    arrays. The per-doc array pack is materialized once (`localCheckpoint`)
    because both the prefix path and the verification path consume it.
    """
    packed = _shingle_hashes(df, id_col, text_col, n).localCheckpoint(eager=False)
    sh = packed.select(
        id_col, "n_shingles", F.explode("shs").alias("shingle")
    ).repartition(F.col("shingle"))
    # Global rarity order rides the shingle partitioning; the per-doc rank
    # is one id-keyed exchange.
    sh = sh.withColumn(
        "df_count", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    )
    # Epsilon before ceil: float error may only ever LENGTHEN the prefix /
    # LOWER the overlap bound — both err toward admitting candidates,
    # never toward missing a true pair.
    prefix_len = (
        F.col("n_shingles")
        - F.ceil(F.lit(threshold) * F.col("n_shingles") - F.lit(1e-9))
        + 1
    )
    pref = sh.withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy("df_count", "shingle")
        ),
    ).where(F.col("pos") <= prefix_len)
    a_p = pref.select(
        F.col(id_col).alias("id_a"),
        F.col("n_shingles").alias("n_a"),
        F.col("pos").alias("pos_a"),
        "shingle",
    )
    b_p = pref.select(
        F.col(id_col).alias("id_b"),
        F.col("n_shingles").alias("n_b"),
        F.col("pos").alias("pos_b"),
        "shingle",
    )
    # AllPairs length filter at the join (J >= t forces t·|A| <= |B|), then
    # the PPJoin positional bound per pair: matched prefix shingles (cnt)
    # plus everything after the LAST matched prefix position on the shorter
    # remainder caps the overlap; α = ceil(t/(1+t)·(|A|+|B|)) is the
    # minimum overlap J >= t requires. Together these cut the candidate
    # set by ~30× on the fixture corpus before exact verification.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("n_a") + F.col("n_b"))
        - F.lit(1e-9)
    )
    cands = (
        a_p.join(b_p, "shingle")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("n_b") >= F.lit(threshold) * F.col("n_a"))
            & (F.col("n_a") >= F.lit(threshold) * F.col("n_b"))
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
            F.max("pos_a").alias("mpa"),
            F.max("pos_b").alias("mpb"),
        )
        .where(
            F.col("cnt")
            + F.least(F.col("n_a") - F.col("mpa"), F.col("n_b") - F.col("mpb"))
            >= alpha
        )
        .select("id_a", "id_b")
    )
    return _verify_jaccard(cands, packed, id_col, threshold)


def _shingle_hashes(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, n_shingles, shs): each document's distinct n-gram shingles as
    an array of their xxhash64 keys, with the set size. The shingle
    set and its size are packed into ONE struct emitted by a generator,
    so tokenize→ngram runs once per document (see
    :func:`ngram_jaccard_pairs`)."""
    return df.select(
        id_col,
        F.explode(
            F.transform(
                F.array(F.array_distinct(X.token_ngrams(text_col, n))),
                lambda a: F.struct(F.size(a).alias("n"), a.alias("shs")),
            )
        ).alias("_p"),
    ).select(
        id_col,
        F.col("_p.n").alias("n_shingles"),
        F.transform("_p.shs", lambda s: F.xxhash64(s)).alias("shs"),
    )


def _verify_jaccard(
    cands: DataFrame, packed: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard of candidate pairs (id_a, id_b): each side's
    :func:`_shingle_hashes` row is attached by id, and the overlap is
    ``size(array_intersect)`` — O(|A|+|B|) per pair, no shingle-level
    join. Same keys and arithmetic as :func:`ngram_jaccard_pairs`."""
    a = packed.select(
        F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"), F.col("shs").alias("shs_a")
    )
    b = packed.select(
        F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"), F.col("shs").alias("shs_b")
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("shs_a", "shs_b")))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures via Kirsch–Mitzenmacher double hashing.

    ONE md5 per shingle; hash family i is derived arithmetically from two
    independent 32-bit halves of the digest: g_i = (h1 + i*h2) mod 2^32
    (Kirsch & Mitzenmacher 2006 — two hash functions simulate k independent
    ones with no loss in the min-wise estimate). sig_i(doc) = min over
    shingles of g_i. One explode + one groupBy (single shuffle) computes all
    ``num_hashes`` components as parallel MIN aggregates; hashing cost is
    1 digest per shingle instead of ``num_hashes``. MD5 keeps the pipeline
    engine-portable (DuckDB replays it bit-identically); production swap:
    xxhash64 → two halves of the 64-bit word.

    Per-doc dedup happens MAP-SIDE via ``array_distinct`` on the per-row
    shingle array (no distinct() shuffle — the same projection trick as
    ngram_jaccard_pairs), so the whole stage is one shuffle: explode →
    groupBy(id) with partial MINs. Hashing still runs once per DISTINCT
    shingle — measured at sf0.1, hashing duplicate occurrences instead
    costs more than any shuffle saved (2.7 s → 3.1 s).
    """
    sh = df.withColumn("_toks", X.tokens(text_col)).select(
        id_col,
        F.explode(
            F.array_distinct(X.ngrams_of_tokens(F.col("_toks"), shingle_n))
        ).alias("shingle"),
    )
    h = F.md5(F.col("shingle"))
    sh = sh.withColumn("h1", F.conv(F.substring(h, 1, 8), 16, 10).cast("long")).withColumn(
        "h2", F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    )
    aggs = [
        F.min((F.col("h1") + F.lit(i) * F.col("h2")) % F.lit(1 << 32)).alias(f"sig_{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_band_buckets(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """(id, band_idx, band_key): hash each band of signature components.

    Docs agreeing on *any* full band land in the same bucket — the classic
    banding amplification: P(candidate) = 1-(1-j^r)^b for jaccard j,
    r = num_hashes/bands rows per band.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[F.col(f"sig_{bi * r + j}").cast("string") for j in range(r)],
                    )
                ).alias("band_key"),
            )
            for bi in range(bands)
        ]
    )
    return sig_df.select(id_col, F.explode(band_structs).alias("band")).select(
        id_col, F.col("band.band_idx").alias("band_idx"), F.col("band.band_key").alias("band_key")
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline with exact-Jaccard verification.

    candidates (band bucket join, distinct pairs) → exact Jaccard of each
    candidate pair. False positives are filtered by verification; false
    negatives bounded by the band curve.

    Verification attaches each document's distinct xxhash64 shingle array
    to the candidate pairs by id and intersects the two arrays
    (:func:`_verify_jaccard`, shared with :func:`jaccard_prefix_pairs`):
    O(|A|+|B|) per candidate pair, never a shingle-level self-join, and
    the same keys and arithmetic as :func:`ngram_jaccard_pairs`, so every
    value is unchanged.
    """
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    bb = minhash_band_buckets(sig, id_col, num_hashes, bands)
    a = bb.select(F.col(id_col).alias("id_a"), "band_idx", "band_key")
    b = bb.select(F.col(id_col).alias("id_b"), "band_idx", "band_key")
    cand = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_jaccard(
        cand, _shingle_hashes(df, id_col, text_col, shingle_n), id_col, threshold
    )


def simhash_bits(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_bits: int = 64,
    banks: int = 4,
) -> DataFrame:
    """64-bit SimHash: per-token hash; bit b of the signature is the
    sign of Σ_tokens (±1 depending on token-hash bit b).

    The per-token hash is the first ``num_bits/4`` hex nibbles of
    ``md5(token)`` (bit b = bit ``b%4`` of nibble ``b//4``) — the same
    engine-portable MD5 convention as the MinHash oracle, so the whole
    pipeline replays bit-identically in DuckDB SQL. Production swap:
    ``xxhash64(token)`` bit extraction (same shapes, cheaper hash).

    Output: (id, bits array<int>, sig long, bank_0..bank_{banks-1} int):
    ``sig`` packs all 64 bits into ONE long (bit b at position b) so
    downstream Hamming verification is a single ``bit_count(sig_a XOR
    sig_b)`` instruction, and banks — contiguous bit-groups used for
    near-dup blocking (two docs within Hamming distance < banks must agree
    exactly on ≥1 bank, pigeonhole) — are bit-slices of it. Computed as
    ``num_bits`` conditional-sum aggregates in one shuffle; the nibble
    array is materialized once per token, not per bit. Every output column
    is built as ONE SQL expression string: composing the 64 aggregates and
    the 64-term OR chain through Column methods costs a py4j round trip
    per method call (thousands per call of this operator).
    """
    from airflow_postgres_csv_spark.operators.localframe import (
        spread_small_input,
    )

    n_nibs = num_bits // 4
    toks = (
        # per-token md5 + nibble transform + 64 partial sums all run
        # MAP-SIDE — spread a one-row-group corpus first (guide §2.5)
        spread_small_input(df.select(id_col, text_col))
        .select(id_col, F.explode(X.tokens(text_col)).alias("tok"))
        .withColumn("h", F.md5("tok"))
        .withColumn(
            "nibs",
            F.expr(
                f"transform(sequence(1, {n_nibs}),"
                " i -> instr('0123456789abcdef', substr(h, i, 1)) - 1)"
            ),
        )
    )
    sums = toks.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(CASE WHEN ((shiftright(element_at(nibs, {b // 4 + 1}), {b % 4})"
                f" & 1) = 1) THEN 1 ELSE -1 END) AS s_{b}"
            )
            for b in range(num_bits)
        ]
    )
    bits = ", ".join(f"CAST(s_{b} > 0 AS INT)" for b in range(num_bits))
    sig = " | ".join(f"shiftleft(CAST(s_{b} > 0 AS BIGINT), {b})" for b in range(num_bits))
    per_bank = num_bits // banks
    # bank k = its contiguous bit-slice of the packed signature
    return sums.select(
        id_col, F.expr(f"array({bits}) AS bits"), F.expr(f"{sig} AS sig")
    ).select(
        id_col,
        "bits",
        "sig",
        *[
            F.expr(
                f"CAST(shiftrightunsigned(sig, {k * per_bank})"
                f" & {(1 << per_bank) - 1} AS INT) AS bank_{k}"
            )
            for k in range(banks)
        ],
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    banks: int = 4,
) -> DataFrame:
    """SimHash near-dup: bank-blocked candidates, Hamming verification.

    With 4 banks, any pair at Hamming ≤ 3 shares at least one identical
    16-bit bank → candidate generation is an equi-join on (bank_idx,
    bank_value), never all-pairs.
    """
    sh = simhash_bits(df, id_col, text_col, banks=banks)
    bank_structs = ", ".join(
        f"named_struct('bank_idx', {k}, 'bank_val', bank_{k})" for k in range(banks)
    )
    # Explicit repartition on the join key: in the sort-merge regime (a
    # corpus too big for AQE to broadcast one side — the 100 TB case) both
    # self-join branches hang off the SAME exchange, so the 64-aggregate
    # signature stage runs once (the exchange-reuse trick
    # ngram_jaccard_pairs uses); when AQE does broadcast, the extra
    # exchange is a shuffle of (id, sig, bank) rows — metadata-sized. Only
    # the PACKED signature rides through the join — 8 bytes per row
    # instead of a 64-int array — and Hamming is one bit_count(XOR)
    # instruction per candidate (measured 3× end-to-end at sf0.1 vs the
    # zip_with fold over bit arrays).
    blocked = (
        sh.select(id_col, "sig", F.expr(f"explode(array({bank_structs})) AS bk"))
        .select(id_col, "sig", "bk.*")
        .repartition("bank_idx", "bank_val")
    )
    a = blocked.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"), "bank_idx", "bank_val")
    b = blocked.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"), "bank_idx", "bank_val")
    # A pair agreeing on k banks surfaces k times; since Hamming is now a
    # single instruction per occurrence, verify FIRST and dedupe after —
    # the distinct's shuffle then carries only the (rare) surviving pairs,
    # not the full candidate set (188k candidates → ~300 rows at sf0.1).
    return (
        a.join(b, ["bank_idx", "bank_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _fold_sql(body: str, a: str, b: str) -> str:
    """SQL text of a sequential double fold over two arrays, element
    expression ``body`` of (x, y)."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> {body}), 0D, (acc, v) -> acc + v)"


def _dot_sql(a: str, b: str) -> str:
    """:func:`cosine_expr`'s dot product as SQL text: the same doubles in
    the same fold order, so a score assembled from it is bit-identical."""
    return _fold_sql("CAST(x AS DOUBLE) * CAST(y AS DOUBLE)", a, b)


def cosine_expr(a: str, b: str) -> Column:
    """Cosine similarity between two named array<float> columns, computed
    as a sequential double fold (engine-portable, deterministic). Built
    as one SQL string: one py4j round trip instead of one per Column
    method and lambda."""
    a, b = f"`{a}`", f"`{b}`"
    return F.expr(f"{_dot_sql(a, b)} / sqrt({_dot_sql(a, a)} * {_dot_sql(b, b)})")


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    block_col: str | None = None,
    auto_lsh_planes: int = 8,
    auto_lsh_tables: int = 4,
    seed: int = 42,
    allow_quadratic: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs — equi-join blocked by default.

    Blocking strategy (the scale contract — a cross join over 100 TB of
    embeddings is O(n²) and never acceptable by accident):

    - ``block_col`` given (cluster/label/precomputed bucket): equi-join on
      it — the cheapest path when a natural key exists.
    - otherwise: auto sign-LSH blocking — ``auto_lsh_tables`` independent
      random-hyperplane codes per vector, pairs compared iff they share a
      (table, bucket) key. Near-identical vectors (the ``threshold≈0.9``
      regime this operator targets) land in the same bucket in at least
      one table with high probability; recall is tuned via
      ``auto_lsh_planes`` (fewer planes → bigger buckets → higher recall,
      more comparisons) and ``auto_lsh_tables``. Output is deduped across
      tables.
    - ``allow_quadratic=True``: explicit all-pairs opt-in, small inputs
      only (tests / pre-filtered candidate sets).

    ``dim`` (auto-LSH path only): the embedding dimensionality. Pass it in
    pipelines to keep plan construction fully lazy — when absent, a
    driver-side ``first()`` probe runs one job just to learn the vector
    width (and an empty input yields an empty pair set, not a crash).
    """
    a_cols = [F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")]
    b_cols = [F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")]
    if block_col:
        a = df.select(block_col, *a_cols)
        b = df.select(block_col, *b_cols)
        joined = a.join(b, [block_col]).filter(F.col("id_a") < F.col("id_b"))
    elif allow_quadratic:
        joined = (
            df.select(*a_cols)
            .crossJoin(df.select(*b_cols))
            .filter(F.col("id_a") < F.col("id_b"))
        )
    else:
        from airflow_postgres_csv_spark.operators.similarity import (
            _bucket_codes_udf,
            random_hyperplanes,
        )
        import numpy as np

        if dim is None:
            probe = df.select(vec_col).first()
            if probe is None or probe[0] is None:
                # Empty input: every other path returns an empty pair set —
                # so does this one, instead of a NoneType crash.
                return df.select(
                    F.col(id_col).alias("id_a"),
                    F.col(id_col).alias("id_b"),
                    F.lit(0.0).alias("cosine"),
                ).limit(0)
            dim = len(probe[0])
        planes_stack = np.vstack(
            [
                np.asarray(random_hyperplanes(dim, auto_lsh_planes, seed + t))
                for t in range(auto_lsh_tables)
            ]
        )
        codes = _bucket_codes_udf(planes_stack, auto_lsh_tables, auto_lsh_planes)
        bucketed = df.select(
            F.col(id_col),
            F.col(vec_col),
            F.posexplode(codes(vec_col)).alias("_tbl", "_bucket"),
        )
        a = bucketed.select("_tbl", "_bucket", F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
        b = bucketed.select("_tbl", "_bucket", F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
        joined = (
            a.join(b, ["_tbl", "_bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            # a pair can collide in several tables — count it once
            .dropDuplicates(["id_a", "id_b"])
        )
    return (
        joined.withColumn("cosine", cosine_expr("va", "vb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def incremental_exact_matches(
    new_df: DataFrame,
    corpus_df: DataFrame,
    key: Column | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental (cross-corpus) exact dedup: for each incoming document
    whose dedup key already exists in the standing corpus, emit
    ``(doc_id, matched_corpus_id)`` — the reject list of a streaming
    ingestion pass. ``key`` defaults to the md5 fingerprint of normalized
    text.

    Shape: corpus side reduces to (key → min id) with one hash-agg, then
    a key equi-join against the (usually much smaller) new batch — the
    corpus is never compared pairwise with itself, and on a cluster the
    reduced corpus key table is the thing you persist between ingestion
    runs instead of recomputing (content-addressed, so it only ever
    appends).
    """
    from airflow_postgres_csv_spark.functions import texts as X

    k = key if key is not None else X.fingerprint_md5("text")
    corpus_keys = (
        corpus_df.select(k.alias("_k"), F.col(id_col))
        .groupBy("_k")
        .agg(F.min(id_col).alias("matched_corpus_id"))
    )
    return (
        new_df.select(F.col(id_col), k.alias("_k"))
        .join(corpus_keys, "_k")
        .select(id_col, "matched_corpus_id")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Asymmetric containment join: containment(A in B) = |A∩B| / |A|
    (Broder's containment, vs the symmetric resemblance/Jaccard). Catches
    the doc-inside-doc case Jaccard misses: a paragraph fully embedded in
    a much larger document has low Jaccard but containment ≈ 1.

    Same bucketed shape as :func:`ngram_jaccard_pairs` (shingle
    equi-self-join, never all-pairs); emits a pair when EITHER direction's
    containment clears the threshold, with both directions reported.
    """
    packed = df.select(
        id_col,
        F.explode(
            F.transform(
                F.array(F.array_distinct(X.token_ngrams(text_col, n))),
                lambda a: F.struct(F.size(a).alias("n"), a.alias("shs")),
            )
        ).alias("_p"),
    )
    sh = (
        packed.select(
            id_col,
            F.col("_p.n").alias("n_shingles"),
            F.explode("_p.shs").alias("shingle"),
        )
        .withColumn("shingle", F.xxhash64("shingle"))
        .repartition(F.col("shingle"))
    )
    if max_shingle_df is not None:
        sh = (
            sh.withColumn(
                "df_count",
                F.count(F.lit(1)).over(Window.partitionBy("shingle")),
            )
            .filter(F.col("df_count") <= max_shingle_df)
            .drop("df_count")
            .withColumn(
                "n_shingles", F.count(F.lit(1)).over(Window.partitionBy(id_col))
            )
        )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"), "shingle")
    return (
        a.join(b, ["shingle"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
        .withColumn(
            "containment_a", F.col("n_common").cast("double") / F.col("n_a")
        )
        .withColumn(
            "containment_b", F.col("n_common").cast("double") / F.col("n_b")
        )
        .filter(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
        .select("id_a", "id_b", "containment_a", "containment_b")
    )


def segment_dedup_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 20,
) -> DataFrame:
    """Corpus-wide SEGMENT-level dedup with text reconstruction (the
    C4/CCNet move: drop duplicated spans, keep the document).

    Documents are cut into consecutive ``seg_tokens``-token segments; for
    every segment content seen anywhere in the corpus, only the FIRST
    occurrence (lowest ``(id, seg_idx)``) survives — including repeats
    *within* one document — and each document's text is rebuilt from its
    surviving segments in order. Returns
    ``(id_col, n_segs, n_kept, clean_text)``; a document whose every
    segment was seen earlier comes back with ``n_kept = 0`` and empty
    ``clean_text`` (caller filters).

    Scale shape: one explode (×n_segs ≈ tokens/seg_tokens), one shuffle
    partitioned by the segment's 128-bit md5 fingerprint (so the wire
    carries 16-byte keys, uniform — no skew beyond true content
    duplication), one groupBy(id) to reassemble. No driver-side state.
    Rows with NULL text are dropped (posexplode of a null array).
    Collision note: an md5 collision would merge two distinct segments —
    at 2^-64 scales this is below hardware-error rates.
    """
    base = df.select(F.col(id_col).alias("_id"), X.tokens(text_col).alias("_tk"))
    n_segs = F.ceil(F.size("_tk") / F.lit(seg_tokens)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.concat_ws(
            " ", F.slice(F.col("_tk"), i * seg_tokens + 1, seg_tokens)
        ),
    )
    exploded = base.select("_id", F.posexplode(segs).alias("seg_idx", "seg"))
    first_w = Window.partitionBy(F.md5("seg")).orderBy("_id", "seg_idx")
    kept = (
        exploded.withColumn("_occ", F.row_number().over(first_w))
        .filter(F.col("_occ") == 1)
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                    lambda s: s.seg,
                ),
            ).alias("clean_text"),
        )
    )
    totals = exploded.groupBy("_id").agg(F.count(F.lit(1)).alias("n_segs"))
    return (
        totals.join(kept, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_segs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    cap: int | None = 400,
) -> DataFrame:
    """Robust-winnowing document fingerprints (Schleimer et al., SIGMOD'03)
    → ``(id_col, pos, fp)``.

    Char ``k``-gram md5 hashes over the normalized text; each window of
    ``w`` consecutive hashes selects its minimum, ties to the RIGHTMOST
    position; distinct selections are the fingerprints. Guarantee: two
    documents sharing a normalized substring of at least ``k + w - 1``
    chars share at least one ``fp`` value (every w-window records its
    min k-gram hash, and the shared substring contains one full window).

    The tie-break is arithmetic: the window min is taken over
    ``key_i = h_i * 2^20 + (2^20-1 - i)`` — min hash first, then max
    position — with every key < 2^52, exact in int64 (and replayable in
    any engine). ``cap`` truncates the normalized text (None = no cap);
    positions beyond 2^20 chars would alias, so cap must stay below that,
    and with ``cap=None`` any normalized document reaching 2^20 chars
    raises at execution time instead of silently corrupting fingerprints.

    100 TB shape: pure per-row array arithmetic in whole-stage codegen —
    no shuffle until the selected prints are exploded (an ~n/w-fold
    reduction of the k-gram stream). Feed the output into a bucket
    equi-join on ``fp`` for substring-level near-dup detection.
    """
    if cap is not None and cap >= 1 << 20:
        raise ValueError("cap must stay below 2^20 so positions don't alias")
    norm = X.normalize_text(F.col(text_col))
    if cap is not None:
        norm = F.substring(norm, 1, cap)
    from airflow_postgres_csv_spark.operators.localframe import (
        spread_small_input,
    )

    # O(len(norm)) md5 calls PER ROW below — spread the projected
    # (id, capped-norm) pair before the kernel (measured at sf0.1: the
    # whole fingerprint pass was ONE 6.3 s task off a one-row-group file)
    d = spread_small_input(df.select(F.col(id_col), norm.alias("__norm")))
    keys = F.expr(
        f"""
        CASE WHEN length(__norm) >= {1 << 20} THEN
          cast(raise_error(concat('winnowing_fingerprints: normalized document '
            'longer than 2^20 chars aliases positions; pass a cap')) as array<bigint>)
        WHEN length(__norm) < {k} THEN cast(array() as array<bigint>)
        ELSE transform(
          sequence(1, length(__norm) - {k - 1}),
          i -> cast(conv(substring(md5(substring(__norm, i, {k})), 1, 8), 16, 10)
                    as bigint) * 1048576 + (1048575 - i)
        ) END
        """
    )
    d = d.select(id_col, keys.alias("__keys"))
    sel = F.expr(
        f"""
        CASE WHEN size(__keys) < {w} THEN cast(array() as array<bigint>)
        ELSE array_distinct(transform(
          sequence(1, size(__keys) - {w - 1}),
          j -> array_min(slice(__keys, j, {w}))
        )) END
        """
    )
    d = d.select(id_col, F.explode(sel).alias("__key"))
    return d.select(
        id_col,
        (F.lit(1048575) - F.col("__key") % 1048576).alias("pos"),
        F.expr("__key div 1048576").alias("fp"),
    )


def winnowing_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    cap: int | None = 400,
    min_shared: int = 2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Substring-level near-dup candidate pairs via shared winnowing
    fingerprints → ``(id_a, id_b, n_shared)`` with ``id_a < id_b``.

    The winnowing guarantee makes this the copy-detection join: any pair
    sharing a normalized substring of >= k+w-1 chars shares a
    fingerprint, so a bucket equi-join on ``fp`` finds every such pair
    without comparing documents directly. ``min_shared`` filters
    single-print coincidences (md5 prefix collisions or one short
    common phrase).

    ``max_doc_freq`` is the stop-fingerprint cap — fingerprints present
    in more than that many documents (boilerplate phrases, headers) are
    dropped BEFORE the self-join. Without it a corpus-wide template
    phrase is one bucket of d docs producing d² candidate rows
    (measured on the fixture: near-all-pairs output); with it bucket
    fan-out is bounded by max_doc_freq², the same discipline
    ``jaccard_prefix_pairs`` applies to shingles. The cost is recall on
    exactly those substrings too common to signal duplication anyway.

    Scale shape: distinct (id, fp) per doc, df-capped, equi-self-join on
    fp, hash agg on the pair — MinHash-LSH's join pattern at substring
    (not whole-document) granularity.
    """
    fps = (
        winnowing_fingerprints(df, text_col, id_col, k=k, w=w, cap=cap)
        .select(F.col(id_col).alias("__id"), "fp")
        .distinct()
        # consumed by the df cap and BOTH self-join sides: materialize once
        # so the per-k-gram md5 pipeline doesn't re-execute per branch
        .localCheckpoint(eager=False)
    )
    if max_doc_freq is not None:
        rare = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") <= max_doc_freq)
            .select("fp")
        )
        fps = fps.join(rare, "fp")
    a = fps.select(F.col("__id").alias("id_a"), "fp")
    b = fps.select(F.col("__id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def minhash_incremental_matches(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental NEAR-dup ingestion: match a new ``batch`` against the
    standing ``corpus`` → ``(batch_id, corpus_id, jaccard)``.

    The fuzzy counterpart of :func:`incremental_exact_matches`: in a
    production pipeline the corpus side's band buckets
    (:func:`minhash_band_buckets`) are PERSISTED once and only the batch
    side is hashed per ingest — the bucket equi-join then touches only
    corpus rows whose band key collides with the batch (partition-pruned
    by key at 100 TB), never the whole corpus. Verification (exact
    shingle-set jaccard) is restricted to both sides' candidate ids via
    semi-joins, so its cost follows the LSH candidate count.

    Id spaces of the two sides must be disjoint.
    """
    sig_c = minhash_signatures(corpus, id_col, text_col, num_hashes, shingle_n)
    sig_b = minhash_signatures(batch, id_col, text_col, num_hashes, shingle_n)
    bb_c = minhash_band_buckets(sig_c, id_col, num_hashes, bands).select(
        F.col(id_col).alias("corpus_id"), "band_idx", "band_key"
    )
    bb_b = minhash_band_buckets(sig_b, id_col, num_hashes, bands).select(
        F.col(id_col).alias("batch_id"), "band_idx", "band_key"
    )
    cand = (
        bb_b.join(bb_c, ["band_idx", "band_key"])
        .select("batch_id", "corpus_id")
        .distinct()
        .localCheckpoint(eager=False)  # consumed by 2 semi-joins + final join
    )

    def _shingles(df: DataFrame, out_id: str, keep: DataFrame) -> DataFrame:
        return (
            df.join(keep, df[id_col] == keep[keep.columns[0]], "left_semi")
            .withColumn("_toks", X.tokens(text_col))
            .select(
                F.col(id_col).alias(out_id),
                F.explode(
                    F.array_distinct(X.ngrams_of_tokens(F.col("_toks"), shingle_n))
                ).alias("shingle"),
            )
        )

    sa = _shingles(batch, "batch_id", cand.select("batch_id").distinct())
    sb = _shingles(corpus, "corpus_id", cand.select("corpus_id").distinct())
    inter = (
        sa.join(sb, "shingle")
        .join(cand, ["batch_id", "corpus_id"])
        .groupBy("batch_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    size_a = sa.groupBy("batch_id").agg(F.count(F.lit(1)).alias("na"))
    size_b = sb.groupBy("corpus_id").agg(F.count(F.lit(1)).alias("nb"))
    j = (
        inter.join(size_a, "batch_id")
        .join(size_b, "corpus_id")
        .select(
            "batch_id",
            "corpus_id",
            (
                F.col("ni").cast("double")
                / (F.col("na") + F.col("nb") - F.col("ni"))
            ).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)


def semdedup_n_planes(
    n_vectors: int,
    target_cell_size: int = 64,
    min_planes: int = 2,
    max_planes: int = 24,
) -> int:
    """Auto-size the SemDeDup cell grid: ``ceil(log2(n / target))``
    planes give cells averaging ``target_cell_size`` vectors, so the
    within-cell quadratic verify cost stays O(n * target) no matter how
    big the corpus grows — the sizing rule the paper applies to its
    k-means k. Clamped to [min_planes, max_planes] (2^24 cells is ample
    at 100 TB; below 2^2 the grid stops being a grid)."""
    import math

    if n_vectors <= 0:
        return min_planes
    raw = math.ceil(math.log2(max(n_vectors / max(target_cell_size, 1), 1.0)))
    return max(min_planes, min(max_planes, raw))


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    seed: int = 42,
    threshold: float = 0.3,
    dim: int | None = None,
    target_cell_size: int = 64,
    n_vectors: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    2303.09540): partition the corpus into cells, compare embeddings only
    within a cell, and keep one representative per semantic neighborhood.

    Returns ``(id, cell, kept)`` — ``kept = 0`` iff some LOWER-id vector
    in the same cell has cosine >= ``threshold`` with this one, so the
    first-seen member of each neighborhood survives and every later
    near-duplicate is flagged. (A strictly sequential greedy pass would
    un-drop a vector whose only similar predecessor was itself dropped;
    this chain-free rule is the standard scalable approximation and errs
    toward dropping slightly more — acceptable for training-data dedup,
    where the cost of a duplicate exceeds the cost of a lost borderline
    document.)

    The paper assigns cells with k-means; here cells are deterministic
    sign-LSH buckets (``random_hyperplanes(dim, n_planes, seed)``) so the
    whole operator is reproducible run-to-run and engine-portable — the
    cell id and every cosine are sequential double folds, identical in
    any engine that folds left-to-right. Cost structure is the paper's:
    Sigma per-cell |cell|^2 instead of n^2; cells average n/2^n_planes
    vectors, so ``n_planes`` tunes the recall/cost trade exactly like
    the paper's k. At 100 TB the cell id is a JVM-codegen projection
    (n_planes broadcast literal folds), the self-join is a shuffle on the
    cell key, and no driver-side state exists beyond the tiny plane list.

    ``n_planes=None`` (the default) AUTO-SIZES the grid: one cheap
    ``df.count()`` (skipped when the caller supplies the ``n_vectors``
    estimate it usually already has) feeds ``semdedup_n_planes``, which
    picks ``ceil(log2(n / target_cell_size))`` planes — cells hold
    ~``target_cell_size`` vectors at ANY corpus size, so the quadratic
    within-cell term stays O(n * target) instead of silently degrading
    to O(n^2/2^6) as the corpus outgrows a fixed grid. Pass an explicit
    ``n_planes`` to pin the grid (e.g. for cross-engine oracles).

    No reference analog (reference is an Airflow ETL shim,
    /root/reference/src/airflow_postgres_csv/operators.py) — extension
    surface for LLM training-data curation.
    """
    from airflow_postgres_csv_spark.operators.similarity import random_hyperplanes

    if dim is None:
        probe = df.select(vec_col).first()
        if probe is None or probe[0] is None:
            return df.select(
                F.col(id_col).alias("id"),
                F.lit(0).alias("cell"),
                F.lit(1).alias("kept"),
            ).limit(0)
        dim = len(probe[0])
    if n_planes is None:
        n_planes = semdedup_n_planes(
            df.count() if n_vectors is None else n_vectors, target_cell_size
        )
    planes = random_hyperplanes(dim, n_planes, seed)

    def _dot_plane(plane: list[float]) -> Column:
        return F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(float(x)) for x in plane]),
                lambda p, q: p.cast("double") * q.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    cell = None
    for i, plane in enumerate(planes):
        bit = (_dot_plane(plane) > 0).cast("int") * (1 << i)
        cell = bit if cell is None else cell + bit
    cells = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), cell.alias("cell")
    )
    a = cells.select(F.col("cell"), F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = cells.select(F.col("cell"), F.col("id").alias("id_b"), F.col("v").alias("vb"))
    dropped = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine_expr("va", "vb") >= threshold)
        .select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("_drop", F.lit(1))
    )
    return (
        cells.join(dropped, "id", "left")
        .select(
            "id",
            "cell",
            F.when(F.col("_drop").isNotNull(), F.lit(0)).otherwise(F.lit(1)).alias("kept"),
        )
    )
