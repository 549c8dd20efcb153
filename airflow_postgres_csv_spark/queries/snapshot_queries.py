"""Versioned-snapshot dataset queries (operators/snapshots.py): commit /
append / time-travel reproduced against plain-SQL oracles.

Each query stages a snapshot dataset in a temp dir from fixture rows,
exercises the manifest machinery, and returns a result whose oracle is
ordinary SQL over the source table — the round trip through commit →
manifest → pinned read must be lossless, and time travel must return
exactly the rows of the pinned version regardless of later commits.

Staging-dir lifetime: the returned DataFrames read the staged dataset
LAZILY, and Spark may re-run any stage later (a second action, an
evicted cache partition), so the temp roots are NOT deleted when the
query function returns — they are registered for interpreter-exit
cleanup instead. Deleting eagerly under a ``.cache()`` was the round-5
flake: an evicted partition recomputes from a removed directory.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_postgres_csv_spark.operators.localframe import arrow_local_df
from airflow_postgres_csv_spark.catalog import load
from airflow_postgres_csv_spark.operators.snapshots import (
    snapshot_commit,
    snapshot_read,
    snapshot_versions,
)
from airflow_postgres_csv_spark.queries import register

_SPLIT_KEY = 13  # nation: v1 = keys < 13 (13 rows), v2 appends the rest

_TEMP_ROOTS: list[str] = []


def _temp_root() -> str:
    """A staging dir that outlives the query result: removed at interpreter
    exit, never while a returned (lazy) DataFrame could still recompute."""
    root = tempfile.mkdtemp(prefix="spark_graft_snap_")
    _TEMP_ROOTS.append(root)
    return root


@atexit.register
def _cleanup_temp_roots() -> None:
    for root in _TEMP_ROOTS:
        shutil.rmtree(root, ignore_errors=True)
    _TEMP_ROOTS.clear()


def _staged_versions(spark: SparkSession, sf_dir: str, root: str) -> None:
    nation = load(spark, sf_dir, "nation")
    snapshot_commit(nation.where(F.col("n_nationkey") < _SPLIT_KEY), root)
    snapshot_commit(nation.where(F.col("n_nationkey") >= _SPLIT_KEY), root)


def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-only history; reading version 1 after version 2 committed
    returns exactly v1's rows — the pinned file list, not directory state."""
    root = _temp_root()
    _staged_versions(spark, sf_dir, root)
    return snapshot_read(spark, root, version=1).orderBy("n_nationkey")


register(
    "snapshot_time_travel",
    f"SELECT * FROM nation WHERE n_nationkey < {_SPLIT_KEY} ORDER BY n_nationkey",
)(snapshot_time_travel)


def snapshot_read_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest = v1 files + v2 files: the append union equals the source."""
    root = _temp_root()
    _staged_versions(spark, sf_dir, root)
    return snapshot_read(spark, root).orderBy("n_nationkey")


register(
    "snapshot_read_latest",
    "SELECT * FROM nation ORDER BY n_nationkey",
)(snapshot_read_latest)


def snapshot_version_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row count per committed version (v1 partial, v2 append-complete,
    v3 overwrite back to the partial set) — commit/lineage bookkeeping as a
    relation. File counts are layout-dependent, so the deterministic
    observable is the row count of each pinned read."""
    nation = load(spark, sf_dir, "nation")
    root = _temp_root()
    rows = []
    _staged_versions(spark, sf_dir, root)
    snapshot_commit(
        nation.where(F.col("n_nationkey") < _SPLIT_KEY), root, mode="overwrite"
    )
    for v in snapshot_versions(root):
        rows.append((v, snapshot_read(spark, root, version=v).count()))
    return arrow_local_df(spark, rows, "version int, n_rows bigint").orderBy("version")


register(
    "snapshot_version_history",
    f"""
    SELECT 1 AS version, (SELECT COUNT(*) FROM nation WHERE n_nationkey < {_SPLIT_KEY}) AS n_rows
    UNION ALL
    SELECT 2, (SELECT COUNT(*) FROM nation)
    UNION ALL
    SELECT 3, (SELECT COUNT(*) FROM nation WHERE n_nationkey < {_SPLIT_KEY})
    ORDER BY version
    """,
)(snapshot_version_history)


def snapshot_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate maintenance: the v1 rollup merged with the
    rollup of ONLY the v1→v2 delta files equals the full-table aggregate.

    This is the 100 TB refresh pattern: the nightly append triggers a scan
    of O(batch) rows (snapshot_changes reads just the added files), and the
    persisted aggregate is updated by a mergeable-aggregate join — the full
    table is never rescanned. Counts and integer cents are exact under
    merge; the oracle computes the same rollup over the whole table."""
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_changes

    events = load(spark, sf_dir, "events")
    cents = F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum(cents).alias("cents")
        )

    root = _temp_root()
    snapshot_commit(events.where(F.pmod("event_id", F.lit(3)) != 0), root)
    snapshot_commit(events.where(F.pmod("event_id", F.lit(3)) == 0), root)
    base = rollup(snapshot_read(spark, root, version=1))
    delta = rollup(snapshot_changes(spark, root, 1, 2))
    merged = (
        base.withColumnRenamed("n", "n_b").withColumnRenamed("cents", "c_b")
        .join(
            delta.withColumnRenamed("n", "n_d").withColumnRenamed("cents", "c_d"),
            "event_type",
            "full_outer",
        )
        .select(
            "event_type",
            (F.coalesce("n_b", F.lit(0)) + F.coalesce("n_d", F.lit(0))).alias("n"),
            (F.coalesce("c_b", F.lit(0)) + F.coalesce("c_d", F.lit(0))).alias(
                "total_cents"
            ),
        )
    )
    return merged.orderBy("event_type")


register(
    "snapshot_incremental_rollup",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)(snapshot_incremental_rollup)


def snapshot_compact_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction as an overwrite commit: two append commits rewritten into
    one compact version — content identical (doc digests), old versions
    still pinned. File-count assertions live in tests/test_snapshots.py;
    the oracle certifies content preservation."""
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_compact

    docs = load(spark, sf_dir, "documents")
    root = _temp_root()
    snapshot_commit(docs.where(F.pmod("doc_id", F.lit(2)) == 0), root)
    snapshot_commit(docs.where(F.pmod("doc_id", F.lit(2)) == 1), root)
    snapshot_compact(spark, root)
    return (
        snapshot_read(spark, root)
        .select("doc_id", "lang", F.md5("text").alias("text_md5"))
        .orderBy("doc_id")
    )


register(
    "snapshot_compact_read",
    "SELECT doc_id, lang, md5(text) AS text_md5 FROM documents ORDER BY doc_id",
)(snapshot_compact_read)


def snapshot_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest zone-map pruning: orders committed as four disjoint
    o_orderkey ranges, then a range scan over the second quartile — the
    manifest's per-file min/max answers which files can match before Spark
    sees a path (tests/test_snapshots.py pins that half the files are
    skipped); the oracle certifies the surviving rows. Bounds are derived
    from MAX(o_orderkey) on both sides, so the query is SF-independent."""
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_scan

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    mx = orders.agg(F.max("o_orderkey")).first()[0]
    q = [0, mx // 4, mx // 2, (3 * mx) // 4, mx + 1]
    root = _temp_root()
    for i in range(4):
        snapshot_commit(
            orders.where(
                (F.col("o_orderkey") >= q[i]) & (F.col("o_orderkey") < q[i + 1])
            ).coalesce(1),
            root,
        )
    return snapshot_scan(spark, root, "o_orderkey", q[1], q[2] - 1).orderBy("o_orderkey")


register(
    "snapshot_pruned_scan",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey >= (SELECT MAX(o_orderkey) // 4 FROM orders)
      AND o_orderkey <  (SELECT MAX(o_orderkey) // 2 FROM orders)
    ORDER BY o_orderkey
    """,
)(snapshot_pruned_scan)


def snapshot_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE certified against SQL: every 5th nation gets a
    starred name (update) plus one brand-new key (insert); the merged
    latest version must equal the CASE+UNION formulation over the source.
    Zone maps restrict the rewrite to key-intersecting files — the
    file-granularity assertions live in tests/test_snapshots.py."""
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_merge

    nation = load(spark, sf_dir, "nation")
    root = _temp_root()
    _staged_versions(spark, sf_dir, root)
    updates = nation.where(F.pmod("n_nationkey", F.lit(5)) == 0).withColumn(
        "n_name", F.concat("n_name", F.lit("*"))
    )
    inserted = arrow_local_df(spark, [(999, "ATLANTIS", 0)], nation.schema)
    snapshot_merge(
        spark, root, updates.unionByName(inserted), key="n_nationkey"
    )
    return snapshot_read(spark, root).orderBy("n_nationkey")


register(
    "snapshot_merge_upsert",
    """
    SELECT n_nationkey,
           CASE WHEN n_nationkey % 5 = 0 THEN n_name || '*' ELSE n_name END AS n_name,
           n_regionkey
    FROM nation
    UNION ALL
    SELECT 999, 'ATLANTIS', 0
    ORDER BY n_nationkey
    """,
)(snapshot_merge_upsert)


def snapshot_delete_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletes: a range delete (every 'error' event) and a
    point delete (the minimum event id) land as metadata+tombstone commits
    that rewrite NOTHING — the delete-key files are applied as broadcast
    anti-joins at read time. The oracle is the plain ``WHERE NOT``
    formulation; the no-data-files-written assertion lives in
    tests/test_snapshots.py. At 100 TB this is the GDPR trickle-delete
    path: O(deleted keys) bytes per delete instead of a file rewrite."""
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_delete_mor

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    mn = events.agg(F.min("event_id")).first()[0]
    root = _temp_root()
    snapshot_commit(events.where(F.pmod("event_id", F.lit(2)) == 0), root)
    snapshot_commit(events.where(F.pmod("event_id", F.lit(2)) == 1), root)
    snapshot_delete_mor(spark, root, "event_type = 'error'", key_col="event_id")
    snapshot_delete_mor(spark, root, f"event_id = {mn}", key_col="event_id")
    return snapshot_read(spark, root).orderBy("event_id")


register(
    "snapshot_delete_mor",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE NOT (event_type = 'error')
      AND NOT (event_id = (SELECT MIN(event_id) FROM events))
    ORDER BY event_id
    """,
)(snapshot_delete_mor)


def snapshot_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level pruning from the ROOT manifest alone: events land
    as one commit per event_type (the partition-batch ingest shape), so
    each commit's range on the partition column is a single value and an
    equality scan prunes four of five commits WITHOUT reading any per-file
    sidecar — the 100 TB read path's first filter, answered from one JSON.
    The commits/sidecars-touched assertions live in tests/test_snapshots.py;
    the oracle certifies the surviving rows."""
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_scan

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    types = [r[0] for r in events.select("event_type").distinct().collect()]
    root = _temp_root()
    for t in sorted(types):
        snapshot_commit(
            events.where(F.col("event_type") == t),
            root,
            partition_by=["event_type"],
        )
    return snapshot_scan(
        spark, root, ranges={"event_type": ("purchase", "purchase")}
    ).orderBy("event_id")


register(
    "snapshot_partition_pruned",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
)(snapshot_partition_pruned)


def snapshot_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The schema-evolution grid across time travel, oracle-checked: v1
    writes (key, name); v2 widens key int→bigint and ADDS ``score`` with
    initial default -1; v3 DROPS ``name``. Reading every version under its
    own pinned manifest schema: pre-evolution files default-fill the added
    column and cast the widened one; post-drop reads prune the dropped
    column — never whichever schema Spark samples first. The oracle
    replays the per-version projections with CASE over the source."""
    nation = load(spark, sf_dir, "nation")
    root = _temp_root()
    v1 = nation.where(F.col("n_nationkey") < 13).select(
        F.col("n_nationkey").cast("int").alias("key"), F.col("n_name").alias("name")
    )
    snapshot_commit(v1, root)
    v2 = nation.where((F.col("n_nationkey") >= 13) & (F.col("n_nationkey") < 20)).select(
        F.col("n_nationkey").cast("bigint").alias("key"),
        F.col("n_name").alias("name"),
        (F.col("n_nationkey").cast("bigint") * 10).alias("score"),
    )
    snapshot_commit(v2, root, allow_schema_change=True, column_defaults={"score": -1})
    v3 = nation.where(F.col("n_nationkey") >= 20).select(
        F.col("n_nationkey").cast("bigint").alias("key"),
        (F.col("n_nationkey").cast("bigint") * 10).alias("score"),
    )
    snapshot_commit(v3, root, allow_schema_change=True)
    reads = []
    for v in (1, 2, 3):
        df = snapshot_read(spark, root, version=v)
        cols = [F.lit(v).alias("version"), F.col("key").cast("bigint").alias("key")]
        cols.append(
            F.col("name").alias("name") if "name" in df.columns
            else F.lit(None).cast("string").alias("name")
        )
        cols.append(
            F.col("score").cast("bigint").alias("score") if "score" in df.columns
            else F.lit(None).cast("bigint").alias("score")
        )
        reads.append(df.select(*cols))
    out = reads[0]
    for r in reads[1:]:
        out = out.unionByName(r)
    return out.orderBy("version", "key")


register(
    "snapshot_schema_evolution",
    """
    SELECT 1 AS version, CAST(n_nationkey AS BIGINT) AS key, n_name AS name,
           CAST(NULL AS BIGINT) AS score
    FROM nation WHERE n_nationkey < 13
    UNION ALL
    SELECT 2, CAST(n_nationkey AS BIGINT), n_name,
           CASE WHEN n_nationkey < 13 THEN -1
                ELSE CAST(n_nationkey AS BIGINT) * 10 END
    FROM nation WHERE n_nationkey < 20
    UNION ALL
    SELECT 3, CAST(n_nationkey AS BIGINT), CAST(NULL AS VARCHAR),
           CASE WHEN n_nationkey < 13 THEN -1
                ELSE CAST(n_nationkey AS BIGINT) * 10 END
    FROM nation
    ORDER BY version, key
    """,
)(snapshot_schema_evolution)


def pipeline_snapshot_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus curation over snapshot versions: quality-filter +
    exact-dedup applied to v1, then to ONLY the v1→v2 delta (anti-joined
    against v1's already-seen hashes) — the union must equal the batch
    curation of the whole corpus.

    The equality holds because the split is doc_id-ordered (every v1 id
    precedes every v2 id), so first-occurrence-wins dedup commutes with
    incremental processing. This is the production shape: each ingest
    commit triggers O(batch) curation work against a persisted hash set,
    never a corpus rescan."""
    from pyspark.sql import Window as W

    from airflow_postgres_csv_spark.operators.snapshots import snapshot_changes

    docs = load(spark, sf_dir, "documents")
    mid = docs.agg(F.max("doc_id")).first()[0] // 2
    q_chars = 50

    def curate(df: DataFrame) -> DataFrame:
        w = W.partitionBy("h").orderBy("doc_id")
        return (
            df.where(F.col("n_chars") >= q_chars)
            .withColumn("h", F.md5("text"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("doc_id", "lang", "h")
        )

    root = _temp_root()
    snapshot_commit(docs.where(F.col("doc_id") <= mid), root)
    snapshot_commit(docs.where(F.col("doc_id") > mid), root)
    seen = curate(snapshot_read(spark, root, version=1))
    fresh = curate(snapshot_changes(spark, root, 1, 2)).join(
        seen.select("h"), "h", "left_anti"
    )
    return seen.unionByName(fresh).select("doc_id", "lang").orderBy("doc_id")


register(
    "pipeline_snapshot_curation",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents WHERE n_chars >= 50
    ) WHERE rn = 1
    ORDER BY doc_id
    """,
)(pipeline_snapshot_curation)


def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile of orders (exact mode at audit scale; the
    approx_count_distinct variant is the petabyte path — see
    operators/profiling.py). Only integer/string columns are profiled so
    min/max string formatting is engine-portable."""
    from airflow_postgres_csv_spark.operators.profiling import profile_columns

    return profile_columns(
        load(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    ).orderBy("column")


register(
    "profile_orders_columns",
    """
    SELECT col AS "column", n, n_nulls, n_distinct, min_s, max_s FROM (
      SELECT 'o_orderkey' AS col, COUNT(*) AS n,
             CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
             COUNT(DISTINCT o_orderkey) AS n_distinct,
             CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
             CAST(MAX(o_orderkey) AS VARCHAR) AS max_s
      FROM orders
      UNION ALL
      SELECT 'o_custkey', COUNT(*), CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
             COUNT(DISTINCT o_custkey),
             CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus', COUNT(*), CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
             COUNT(DISTINCT o_orderstatus),
             MIN(o_orderstatus), MAX(o_orderstatus)
      FROM orders
      UNION ALL
      SELECT 'o_orderpriority', COUNT(*), CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
             COUNT(DISTINCT o_orderpriority),
             MIN(o_orderpriority), MAX(o_orderpriority)
      FROM orders
    )
    ORDER BY "column"
    """,
)(profile_orders_columns)


_LOOKUP_KEYS = (1, 7, 42, 100, 101)


def snapshot_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-indexed point lookups: customers committed in four
    hash-residue files (every file's key range overlaps, so zone maps
    alone prune nothing), then five key lookups that the per-file Bloom
    bitsets route to the right file(s). Union of lookups equals the SQL
    IN-list. File-skip assertions live in tests/test_snapshots.py."""
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_lookup

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    root = _temp_root()
    for res in range(4):
        snapshot_commit(
            cust.where(F.pmod("c_custkey", F.lit(4)) == res).coalesce(1),
            root,
            bloom_cols=["c_custkey"],
        )
    out = None
    for key in _LOOKUP_KEYS:
        hit = snapshot_lookup(spark, root, "c_custkey", key)
        out = hit if out is None else out.unionByName(hit)
    return out.orderBy("c_custkey")


register(
    "snapshot_bloom_lookup",
    f"""
    SELECT c_custkey, c_nationkey, c_mktsegment
    FROM customer WHERE c_custkey IN {_LOOKUP_KEYS}
    ORDER BY c_custkey
    """,
)(snapshot_bloom_lookup)


def snapshot_delete_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional delete vectors, oracle-checked: a predicate over
    NON-KEY columns deletes exact (file, row_index) addresses — no unique
    key required, nothing rewritten — and a second stacked vector
    composes. The oracle is the plain conjunction of WHERE NOTs. The
    no-data-files / exact-rows / duplicate-key assertions live in
    tests/test_snapshots.py."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_delete_positional as delete_positional,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    root = _temp_root()
    snapshot_commit(events.where(F.pmod("event_id", F.lit(2)) == 0), root)
    snapshot_commit(events.where(F.pmod("event_id", F.lit(2)) == 1), root)
    delete_positional(spark, root, "event_type = 'view' AND value < 50.0")
    delete_positional(spark, root, "user_id % 10 = 3")
    return snapshot_read(spark, root).orderBy("event_id")


register(
    "snapshot_delete_positional",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE NOT (event_type = 'view' AND value < 50.0)
      AND NOT (user_id % 10 = 3)
    ORDER BY event_id
    """,
)(snapshot_delete_positional)


def streaming_snapshot_feed_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot dataset consumed AS A LIVE STREAM: three commits staged
    from the events fixture, then an actual ``readStream.format(
    "snapshot_feed")`` (the Spark 4 Python Data Source streaming reader in
    ``streaming/snapshot_source.py``) driven to a memory sink. Offsets are
    snapshot versions, partitions are the appended files, rows carry a
    ``_commit_version`` provenance column — and because the commits split
    the fixture by ``event_id % 3``, the oracle can reconstruct each row's
    commit version arithmetically. Determinism: all three versions exist
    at stream start, so ``latestOffset`` covers them in one micro-batch
    and append mode emits every row exactly once (the exactly-once
    restart/delete/rewrite semantics are unit-tested in
    tests/test_snapshot_source.py, where multi-batch timing belongs)."""
    import uuid as _uuid

    from airflow_postgres_csv_spark.streaming.snapshot_source import (
        register_snapshot_feed,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    root = _temp_root()
    for r in range(3):
        snapshot_commit(events.where(F.pmod("event_id", F.lit(3)) == r), root)
    register_snapshot_feed(spark)
    name = f"snapfeed_{_uuid.uuid4().hex[:12]}"
    q = (
        spark.readStream.format("snapshot_feed")
        .option("root", root)
        .load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).orderBy("event_id")


register(
    "streaming_snapshot_feed_live",
    """
    SELECT event_id, user_id, event_type,
           CAST(event_id % 3 + 1 AS BIGINT) AS _commit_version
    FROM events
    ORDER BY event_id
    """,
)(streaming_snapshot_feed_live)


def streaming_snapshot_cdf_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot dataset consumed as a CHANGE DATA FEED: two append
    commits split by ``event_id % 2``, a merge-on-read equality delete
    (``event_type = 'view'``, commit 3), a positional delete
    (``user_id % 7 = 0``, commit 4), then a live
    ``readStream.format("snapshot_feed").option("changeFeed", "true")``
    stream to a memory sink. Inserts stream with ``_change_type='insert'``
    at their append version; each delete commit streams the exact
    PRE-IMAGE rows it removes as ``_change_type='delete'`` at the delete's
    version — and because the positional delete's predicate was evaluated
    over the live (post-MOR) table, its pre-image excludes rows the
    equality tombstone already removed, so the oracle is two plain WHERE
    clauses. This is Delta Change Data Feed semantics re-expressed over
    tombstone files; exact multi-batch/restart timing is unit-tested in
    tests/test_snapshot_source.py."""
    import uuid as _uuid

    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_delete_mor,
        snapshot_delete_positional,
    )
    from airflow_postgres_csv_spark.streaming.snapshot_source import (
        register_snapshot_feed,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    root = _temp_root()
    for r in range(2):
        snapshot_commit(events.where(F.pmod("event_id", F.lit(2)) == r), root)
    snapshot_delete_mor(spark, root, "event_type = 'view'", key_col="event_id")
    snapshot_delete_positional(spark, root, "user_id % 7 = 0")
    register_snapshot_feed(spark)
    name = f"snapcdf_{_uuid.uuid4().hex[:12]}"
    q = (
        spark.readStream.format("snapshot_feed")
        .option("root", root)
        .option("changeFeed", "true")
        .load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).orderBy("event_id", "_commit_version")


register(
    "streaming_snapshot_cdf_live",
    """
    SELECT * FROM (
        SELECT event_id, user_id, event_type,
               CAST(event_id % 2 + 1 AS BIGINT) AS _commit_version,
               'insert' AS _change_type
        FROM events
        UNION ALL
        SELECT event_id, user_id, event_type,
               CAST(3 AS BIGINT) AS _commit_version,
               'delete' AS _change_type
        FROM events WHERE event_type = 'view'
        UNION ALL
        SELECT event_id, user_id, event_type,
               CAST(4 AS BIGINT) AS _commit_version,
               'delete' AS _change_type
        FROM events WHERE user_id % 7 = 0 AND event_type <> 'view'
    ) ORDER BY event_id, _commit_version
    """,
)(streaming_snapshot_cdf_live)


def pipeline_snapshot_medallion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full incremental lakehouse loop, live and exactly-once on BOTH
    sides: bronze snapshot commits → ``snapshot_feed`` streaming source →
    row-level curation → exactly-once snapshot STREAM SINK (batch-id gate
    inside the atomic publish) → silver snapshot read. Run twice: the
    first pump processes bronze versions 1-2, then a third bronze commit
    lands and a checkpointed restart pumps ONLY the delta into silver —
    so the silver table equals the plain filtered SELECT over all events
    exactly when offsets, the version-range file diff, the batch-id gate,
    and the restart path all compose correctly. O(appended data) per
    pump, never O(table)."""
    from airflow_postgres_csv_spark.streaming.sinks import (
        snapshot_batch_commit,
        start_batch_sink,
    )
    from airflow_postgres_csv_spark.streaming.snapshot_source import (
        register_snapshot_feed,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    bronze, silver, ckpt = _temp_root(), _temp_root(), _temp_root()
    register_snapshot_feed(spark)

    def pump() -> None:
        curated = (
            spark.readStream.format("snapshot_feed")
            .option("root", bronze)
            .load()
            .where(F.col("event_type") == "purchase")
            .select(
                "event_id",
                "user_id",
                F.col("value").cast("decimal(18,2)").cast("double").alias("amount"),
                "_commit_version",
            )
        )
        q = start_batch_sink(
            curated, lambda df, bid: snapshot_batch_commit(df, bid, silver), ckpt
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    snapshot_commit(events.where(F.pmod("event_id", F.lit(3)) == 0), bronze)
    snapshot_commit(events.where(F.pmod("event_id", F.lit(3)) == 1), bronze)
    pump()
    snapshot_commit(events.where(F.pmod("event_id", F.lit(3)) == 2), bronze)
    pump()  # checkpointed restart: only bronze version 3 flows
    return snapshot_read(spark, silver).orderBy("event_id")


register(
    "pipeline_snapshot_medallion",
    """
    SELECT event_id, user_id,
           CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS amount,
           CAST(event_id % 3 + 1 AS BIGINT) AS _commit_version
    FROM events
    WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
)(pipeline_snapshot_medallion)


def snapshot_zorder_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE-ZORDER on the query path: events land unclustered across
    five commits, ``snapshot_compact(zorder_by=(user_id, event_id))``
    re-clusters them on the Morton curve, and a 2-D box scan then prunes
    by the rewritten files' zone maps before Spark sees a path (the
    file-count payoff is pinned in
    tests/test_snapshots.py::test_compact_zorder_prunes_2d; here the
    oracle certifies the clustered rewrite changed NOTHING about the
    rows). Residual filter on top of the file-grain scan, as in
    snapshot_pruned_scan."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_compact,
        snapshot_scan,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    root = _temp_root()
    for r in range(5):
        snapshot_commit(events.where(F.pmod("event_id", F.lit(5)) == r), root)
    snapshot_compact(
        spark, root, target_bytes=64 * 1024, zorder_by=("user_id", "event_id")
    )
    box = {"user_id": (100, 400), "event_id": (1000, 6000)}
    return (
        snapshot_scan(spark, root, ranges=box)
        .where(
            F.col("user_id").between(100, 400)
            & F.col("event_id").between(1000, 6000)
        )
        .orderBy("event_id")
    )


register(
    "snapshot_zorder_pruned",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE user_id BETWEEN 100 AND 400
      AND event_id BETWEEN 1000 AND 6000
    ORDER BY event_id
    """,
)(snapshot_zorder_pruned)


def snapshot_apply_changes_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC replay end-to-end: a source table built from three append
    commits plus one equality MOR delete and one positional MOR delete is
    replayed commit-by-commit into an empty downstream table with
    ``snapshot_apply_changes`` (appends → merge upserts, delete files →
    re-published tombstones, positions → key resolution). The downstream
    read must equal the plain filtered SELECT — which certifies ordering,
    tombstone translation, and the merge path all at once. Idempotence
    and incremental reruns are unit-tested in tests/test_snapshots.py."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_apply_changes,
        snapshot_delete_mor,
        snapshot_delete_positional,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    src, dst = _temp_root(), _temp_root()
    for r in range(3):
        snapshot_commit(events.where(F.pmod("event_id", F.lit(3)) == r), src)
    snapshot_delete_mor(spark, src, "user_id % 7 = 2", key_col="event_id")
    snapshot_delete_positional(spark, src, "event_type = 'click' AND value > 900.0")
    snapshot_apply_changes(spark, src, dst, key_col="event_id")
    return snapshot_read(spark, dst).orderBy("event_id")


register(
    "snapshot_apply_changes_cdc",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE NOT (user_id % 7 = 2)
      AND NOT (event_type = 'click' AND value > 900.0)
    ORDER BY event_id
    """,
)(snapshot_apply_changes_cdc)


def pipeline_snapshot_cdc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming APPLY CHANGES INTO, end to end: the source table's history
    (two appends, an equality MOR delete, a positional delete) is consumed
    as a LIVE change-data-feed stream (``changeFeed=true``) and applied by
    ``streaming/sinks.apply_changes_batch`` into a keyed downstream
    snapshot table — net-per-key upserts as a COW merge, net deletes as an
    O(keys) tombstone commit, batch id stamped inside the final atomic
    publish for exactly-once replays. The mirror must equal the source's
    LIVE state, which the oracle states as two WHERE clauses."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_delete_mor,
        snapshot_delete_positional,
    )
    from airflow_postgres_csv_spark.streaming.sinks import (
        apply_changes_batch,
        start_batch_sink,
    )
    from airflow_postgres_csv_spark.streaming.snapshot_source import (
        register_snapshot_feed,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    src = _temp_root()
    dst = _temp_root()
    ckpt = _temp_root()
    for r in range(2):
        snapshot_commit(events.where(F.pmod("event_id", F.lit(2)) == r), src)
    snapshot_delete_mor(spark, src, "event_type = 'view'", key_col="event_id")
    snapshot_delete_positional(spark, src, "user_id % 7 = 0")
    register_snapshot_feed(spark)
    stream = (
        spark.readStream.format("snapshot_feed")
        .option("root", src)
        .option("changeFeed", "true")
        .load()
    )
    q = start_batch_sink(
        stream, lambda df, bid: apply_changes_batch(df, bid, dst, "event_id"), ckpt
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return snapshot_read(spark, dst).orderBy("event_id")


register(
    "pipeline_snapshot_cdc_stream",
    """
    SELECT event_id, user_id, event_type
    FROM events
    WHERE event_type <> 'view' AND user_id % 7 <> 0
    ORDER BY event_id
    """,
)(pipeline_snapshot_cdc_stream)


def pipeline_snapshot_cdc_merge_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming APPLY CHANGES INTO across a COW MERGE in the source
    history: appends, a merge-on-read delete, then a MERGE upsert that
    rewrites event_type for every live ``user_id % 10 = 4`` row. The
    change feed replays the merge as delete pre-image + insert post-image
    pairs restricted to the merged keys; the mirror nets each pair to the
    post-image and must equal the source's live state — which the oracle
    states as one CASE expression."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_delete_mor,
        snapshot_merge,
    )
    from airflow_postgres_csv_spark.streaming.sinks import (
        apply_changes_batch,
        start_batch_sink,
    )
    from airflow_postgres_csv_spark.streaming.snapshot_source import (
        register_snapshot_feed,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    src = _temp_root()
    dst = _temp_root()
    ckpt = _temp_root()
    for r in range(2):
        snapshot_commit(events.where(F.pmod("event_id", F.lit(2)) == r), src)
    snapshot_delete_mor(spark, src, "event_type = 'view'", key_col="event_id")
    updates = snapshot_read(spark, src).where("user_id % 10 = 4").select(
        "event_id", "user_id", F.lit("merged").alias("event_type")
    )
    snapshot_merge(spark, src, updates, "event_id")
    register_snapshot_feed(spark)
    stream = (
        spark.readStream.format("snapshot_feed")
        .option("root", src)
        .option("changeFeed", "true")
        .load()
    )
    q = start_batch_sink(
        stream, lambda df, bid: apply_changes_batch(df, bid, dst, "event_id"), ckpt
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return snapshot_read(spark, dst).orderBy("event_id")


register(
    "pipeline_snapshot_cdc_merge_stream",
    """
    SELECT event_id, user_id,
           CASE WHEN user_id % 10 = 4 THEN 'merged' ELSE event_type END
             AS event_type
    FROM events
    WHERE event_type <> 'view'
    ORDER BY event_id
    """,
)(pipeline_snapshot_cdc_merge_stream)


def snapshot_apply_changes_rewrites(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch CDC replay across EVERY rewrite kind in the source history:
    appends, a merge-on-read delete, a COW MERGE (event_type rewritten
    for ``user_id % 10 = 4``), a compaction (verified row-preserving and
    skipped), and a COW range delete — `snapshot_apply_changes` replays
    each from its stamped lineage (merge keys / delete range /
    compaction_of) in O(changed data), and the downstream table must
    equal the source's live state, which the oracle states directly."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_apply_changes,
        snapshot_compact,
        snapshot_delete,
        snapshot_delete_mor,
        snapshot_merge,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    src = _temp_root()
    dst = _temp_root()
    for r in range(2):
        snapshot_commit(events.where(F.pmod("event_id", F.lit(2)) == r), src)
    snapshot_delete_mor(spark, src, "event_type = 'view'", key_col="event_id")
    updates = snapshot_read(spark, src).where("user_id % 10 = 4").select(
        "event_id", "user_id", F.lit("merged").alias("event_type")
    )
    snapshot_merge(spark, src, updates, "event_id")
    snapshot_compact(spark, src)
    snapshot_delete(spark, src, "event_id", 1000, 1999)
    snapshot_apply_changes(spark, src, dst, key_col="event_id")
    return snapshot_read(spark, dst).orderBy("event_id")


register(
    "snapshot_apply_changes_rewrites",
    """
    SELECT event_id, user_id,
           CASE WHEN user_id % 10 = 4 THEN 'merged' ELSE event_type END
             AS event_type
    FROM events
    WHERE event_type <> 'view'
      AND event_id NOT BETWEEN 1000 AND 1999
    ORDER BY event_id
    """,
)(snapshot_apply_changes_rewrites)


def snapshot_time_travel_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF-TIMESTAMP time travel: every publish stamps a strictly
    increasing ``committed_at`` (nanosecond epoch), so reading at v1's
    exact instant returns exactly v1's rows no matter how close together
    the commits landed — Delta's ``TIMESTAMP AS OF`` over the manifest
    chain. The query reads at the recorded instants of both versions and
    unions the row counts with a version marker."""
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_history

    root = _temp_root()
    _staged_versions(spark, sf_dir, root)
    ts = {h["version"]: h["committed_at"] for h in snapshot_history(root)}
    at_v1 = snapshot_read(spark, root, as_of=ts[1])
    at_v2 = snapshot_read(spark, root, as_of=ts[2])
    return (
        at_v1.select(F.lit(1).alias("at_version"), "n_nationkey")
        .unionAll(at_v2.select(F.lit(2).alias("at_version"), "n_nationkey"))
        .orderBy("at_version", "n_nationkey")
    )


register(
    "snapshot_time_travel_as_of",
    f"""
    SELECT 1 AS at_version, n_nationkey FROM nation WHERE n_nationkey < {_SPLIT_KEY}
    UNION ALL
    SELECT 2, n_nationkey FROM nation
    ORDER BY at_version, n_nationkey
    """,
)(snapshot_time_travel_as_of)


def snapshot_describe_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY as a relation: the staged table's commit chain
    (two appends, a merge-on-read delete, a compaction) reported from the
    manifests alone — version, parent, mode, tombstone count. File counts
    and timestamps are layout/clock-dependent and excluded; the
    deterministic lineage columns are the oracle."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_compact,
        snapshot_delete_mor,
        snapshot_history,
    )

    root = _temp_root()
    _staged_versions(spark, sf_dir, root)
    snapshot_delete_mor(spark, root, "n_nationkey = 3", key_col="n_nationkey")
    snapshot_compact(spark, root)
    rows = [
        (h["version"], h["parent"], h["mode"], h["n_tombstones"])
        for h in snapshot_history(root)
    ]
    return arrow_local_df(spark, 
        rows, "version int, parent int, mode string, n_tombstones int"
    ).orderBy("version")


register(
    "snapshot_describe_history",
    """
    SELECT * FROM (VALUES
        (1, NULL, 'append', 0),
        (2, 1, 'append', 0),
        (3, 2, 'delete-mor', 1),
        (4, 3, 'overwrite', 0)
    ) AS t(version, parent, mode, n_tombstones)
    ORDER BY version
    """,
)(snapshot_describe_history)


def snapshot_table_changes_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch change data feed (`snapshot_table_changes`, Delta's
    table_changes TVF): the full change history of a staged table — two
    appends, a MOR delete, a COW merge (pre/post-image pair), a verified
    compaction (emits nothing), a COW range delete — reconstructed from
    manifest lineage in O(changed data). Equivalence with the STREAMING
    change feed is asserted row-for-row in tests/test_snapshot_source.py;
    here the oracle reconstructs every change arithmetically."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_compact,
        snapshot_delete,
        snapshot_delete_mor,
        snapshot_merge,
        snapshot_table_changes,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    src = _temp_root()
    for r in range(2):
        snapshot_commit(events.where(F.pmod("event_id", F.lit(2)) == r), src)
    snapshot_delete_mor(spark, src, "event_type = 'view'", key_col="event_id")
    updates = snapshot_read(spark, src).where("user_id % 10 = 4").select(
        "event_id", "user_id", F.lit("merged").alias("event_type")
    )
    snapshot_merge(spark, src, updates, "event_id")
    snapshot_compact(spark, src)
    snapshot_delete(spark, src, "event_id", 1000, 1999)
    return snapshot_table_changes(spark, src).orderBy(
        "event_id", "_commit_version", "_change_type"
    )


register(
    "snapshot_table_changes_batch",
    """
    SELECT * FROM (
        SELECT event_id, user_id, event_type,
               CAST(event_id % 2 + 1 AS BIGINT) AS _commit_version,
               'insert' AS _change_type
        FROM events
        UNION ALL
        SELECT event_id, user_id, event_type, CAST(3 AS BIGINT), 'delete'
        FROM events WHERE event_type = 'view'
        UNION ALL
        SELECT event_id, user_id, event_type, CAST(4 AS BIGINT), 'delete'
        FROM events WHERE event_type <> 'view' AND user_id % 10 = 4
        UNION ALL
        SELECT event_id, user_id, 'merged', CAST(4 AS BIGINT), 'insert'
        FROM events WHERE event_type <> 'view' AND user_id % 10 = 4
        UNION ALL
        SELECT event_id, user_id,
               CASE WHEN user_id % 10 = 4 THEN 'merged' ELSE event_type END,
               CAST(6 AS BIGINT), 'delete'
        FROM events
        WHERE event_type <> 'view' AND event_id BETWEEN 1000 AND 1999
    ) ORDER BY event_id, _commit_version, _change_type
    """,
)(snapshot_table_changes_batch)


def snapshot_ivm_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance WITH RETRACTIONS: a persisted
    per-event-type (count, cents) aggregate refreshed incrementally
    across appends, a MOR delete, and a COW range delete — each refresh
    reads only the changes (signed ±1 through the batch change feed) and
    lands as ONE stamped commit, yet the maintained table must equal a
    plain GROUP BY over the source's live rows, which is the oracle."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_delete,
        snapshot_delete_mor,
        snapshot_incremental_agg,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias(
            "cents"
        ),
    )
    src = _temp_root()
    dst = _temp_root()
    for r in range(2):
        snapshot_commit(events.where(F.pmod("event_id", F.lit(2)) == r), src)
    snapshot_incremental_agg(spark, src, dst, "event_type", "cents")
    snapshot_delete_mor(spark, src, "event_id % 7 = 0", key_col="event_id")
    snapshot_delete(spark, src, "event_id", 2000, 2999)
    snapshot_incremental_agg(spark, src, dst, "event_type", "cents")
    return (
        snapshot_read(spark, dst)
        .where("n > 0")
        .select("event_type", "n", "total")
        .orderBy("event_type")
    )


register(
    "snapshot_ivm_rollup",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
             AS total
    FROM events
    WHERE event_id % 7 <> 0 AND event_id NOT BETWEEN 2000 AND 2999
    GROUP BY event_type
    ORDER BY event_type
    """,
)(snapshot_ivm_rollup)


def snapshot_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UPDATE over the snapshot table (`snapshot_update`): matching
    rows rewritten in place via the keyed COW merge — 'view' events get
    their value zeroed and type renamed — and the read-back equals the
    oracle's CASE expressions over the source."""
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_update

    events = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias(
            "cents"
        ),
    )
    root = _temp_root()
    for r in range(2):
        snapshot_commit(events.where(F.pmod("event_id", F.lit(2)) == r), root)
    snapshot_update(
        spark,
        root,
        "event_type = 'view'",
        {"event_type": "'viewed'", "cents": "0"},
        key_col="event_id",
    )
    return snapshot_read(spark, root).orderBy("event_id")


register(
    "snapshot_update_where",
    """
    SELECT event_id,
           CASE WHEN event_type = 'view' THEN 'viewed' ELSE event_type END
             AS event_type,
           CASE WHEN event_type = 'view' THEN 0
                ELSE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
           END AS cents
    FROM events
    ORDER BY event_id
    """,
)(snapshot_update_where)


def snapshot_clone_isolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy clone isolation: fork the table by hardlinking its
    pinned files (O(files) metadata, zero bytes), MOR-delete inside the
    CLONE, and read both sides — the source must stay intact while the
    clone diverges, which the oracle states as the full set plus the
    filtered set."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_clone,
        snapshot_delete_mor,
    )

    events = load(spark, sf_dir, "events").select("event_id", "event_type")
    src = _temp_root()
    dst = _temp_root() + "/clone"
    for r in range(2):
        snapshot_commit(events.where(F.pmod("event_id", F.lit(2)) == r), src)
    snapshot_clone(src, dst)
    snapshot_delete_mor(spark, dst, "event_type = 'view'", key_col="event_id")
    a = snapshot_read(spark, src).select(
        F.lit("source").alias("side"), "event_id", "event_type"
    )
    b = snapshot_read(spark, dst).select(
        F.lit("clone").alias("side"), "event_id", "event_type"
    )
    return a.unionAll(b).orderBy("side", "event_id")


register(
    "snapshot_clone_isolated",
    """
    SELECT * FROM (
        SELECT 'source' AS side, event_id, event_type FROM events
        UNION ALL
        SELECT 'clone', event_id, event_type FROM events
        WHERE event_type <> 'view'
    ) ORDER BY side, event_id
    """,
)(snapshot_clone_isolated)


def pipeline_expectations_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DLT-style expectations gate on the snapshot write path: orders are
    routed through warn / drop / quarantine rules in one Catalyst
    projection (violation counts ride df.observe on the write job — no
    extra scan), valid rows commit to the main table, offenders commit to
    the quarantine table with their failed-rule names. The metrics row
    AND the read-back counts of both snapshot tables must equal the
    oracle's plain-SQL case sums — gate math and commit round trip in one
    check."""
    from airflow_postgres_csv_spark.operators.expectations import (
        Expectation,
        snapshot_write_with_expectations,
    )

    root, quar = _temp_root(), _temp_root()
    orders = load(spark, sf_dir, "orders")
    m = snapshot_write_with_expectations(
        orders,
        root,
        [
            Expectation("price_within_band", "o_totalprice < 300000", "warn"),
            Expectation("not_low_priority", "o_orderpriority <> '5-LOW'", "quarantine"),
            Expectation("status_final", "o_orderstatus IN ('O','F')", "drop"),
        ],
        quarantine_root=quar,
    )
    readback_written = snapshot_read(spark, root).count()
    readback_quar = snapshot_read(spark, quar).count()
    row = (
        m["n_input"], m["n_written"], m["n_quarantined"], m["n_dropped"],
        m["violations"]["price_within_band"],
        m["violations"]["not_low_priority"],
        m["violations"]["status_final"],
        readback_written, readback_quar,
    )
    return arrow_local_df(spark, 
        [row],
        "n_input long, n_written long, n_quarantined long, n_dropped long,"
        " viol_price long, viol_priority long, viol_status long,"
        " readback_written long, readback_quarantined long",
    )


register(
    "pipeline_expectations_quarantine",
    """
    SELECT COUNT(*) AS n_input,
      CAST(SUM(CASE WHEN o_orderstatus IN ('O','F') AND o_orderpriority <> '5-LOW'
               THEN 1 ELSE 0 END) AS BIGINT) AS n_written,
      CAST(SUM(CASE WHEN o_orderstatus IN ('O','F') AND NOT (o_orderpriority <> '5-LOW')
               THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
      CAST(SUM(CASE WHEN NOT (o_orderstatus IN ('O','F'))
               THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      CAST(SUM(CASE WHEN NOT (o_totalprice < 300000) THEN 1 ELSE 0 END) AS BIGINT)
        AS viol_price,
      CAST(SUM(CASE WHEN NOT (o_orderpriority <> '5-LOW') THEN 1 ELSE 0 END) AS BIGINT)
        AS viol_priority,
      CAST(SUM(CASE WHEN NOT (o_orderstatus IN ('O','F')) THEN 1 ELSE 0 END) AS BIGINT)
        AS viol_status,
      CAST(SUM(CASE WHEN o_orderstatus IN ('O','F') AND o_orderpriority <> '5-LOW'
               THEN 1 ELSE 0 END) AS BIGINT) AS readback_written,
      CAST(SUM(CASE WHEN o_orderstatus IN ('O','F') AND NOT (o_orderpriority <> '5-LOW')
               THEN 1 ELSE 0 END) AS BIGINT) AS readback_quarantined
    FROM orders
    """,
)(pipeline_expectations_quarantine)


def streaming_expectations_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE expectations gate: the events fixture streamed through
    ``start_batch_sink`` with ``snapshot_write_with_expectations`` as the
    batch body — warn counts, a drop rule, and a quarantine rule route
    each micro-batch into a main + quarantine snapshot table pair, each
    commit batch-id-stamped inside its atomic publish. The fixture stages
    as ONE file → ONE micro-batch, so the routing equals the batch CASE
    expression the oracle states. Output = union of both destinations
    with their route label."""
    import os
    import shutil

    from airflow_postgres_csv_spark.operators.expectations import (
        Expectation,
        snapshot_write_with_expectations,
    )
    from airflow_postgres_csv_spark.streaming.sinks import start_batch_sink

    src = os.path.join(_temp_root(), "src")
    os.makedirs(src)
    shutil.copy(os.path.join(sf_dir, "events.parquet"),
                os.path.join(src, "000.parquet"))
    schema = spark.read.parquet(src).schema
    root, quar = _temp_root(), _temp_root()
    rules = [
        Expectation("value_in_band", "value < 90", "warn"),
        Expectation("user_not_heldout", "user_id % 10 <> 3", "drop"),
        Expectation("not_canary_shard", "event_id % 7 <> 0", "quarantine"),
    ]
    q = start_batch_sink(
        spark.readStream.schema(schema).parquet(src)
        .select("event_id", "user_id", "event_type", "value"),
        lambda df, bid: snapshot_write_with_expectations(
            df, root, rules, quar, batch_id=bid, retries=2
        ),
        os.path.join(_temp_root(), "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    main = snapshot_read(spark, root).select(
        "event_id", F.lit("written").alias("route"), F.lit("").alias("failed")
    )
    qr = snapshot_read(spark, quar).select(
        "event_id", F.lit("quarantined").alias("route"),
        F.col("_failed_expectations").alias("failed"),
    )
    return main.unionAll(qr).orderBy("event_id")


register(
    "streaming_expectations_live",
    """
    SELECT event_id,
           CASE WHEN event_id % 7 <> 0 THEN 'written' ELSE 'quarantined' END AS route,
           CASE WHEN event_id % 7 <> 0 THEN '' ELSE 'not_canary_shard' END AS failed
    FROM events
    WHERE user_id % 10 <> 3
    ORDER BY event_id
    """,
)(streaming_expectations_live)


# ---------------------------------------------------------------------------
# Batch Python Data Source over the snapshot table
# (sources/snapshot_batch.py): the WHERE clause's conjuncts reach the
# source via pushFilters and prune files through the same hierarchical
# manifest planning as snapshot_scan — but driven by Spark's own planner,
# with no operator-specific plumbing in the query. The staged table has
# three range-clustered commits and a merge-on-read key delete; the
# source must apply the pinned schema AND the tombstone masks in its
# Arrow read path, and the residual filter re-applies on the survivors.
# ---------------------------------------------------------------------------


def snapshot_source_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_delete_mor
    from airflow_postgres_csv_spark.sources.snapshot_batch import (
        register_snapshot_table,
    )

    root = _temp_root()
    ev = load(spark, sf_dir, "events")
    for r in (0, 1, 2):
        snapshot_commit(
            ev.where(F.col("event_id") % 3 == r), root, partition_by=["event_id"]
        )
    snapshot_delete_mor(
        spark, root, condition="event_id % 10 = 7", key_col="event_id"
    )
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register_snapshot_table(spark)
    ds = spark.read.format("snapshot_table").load(root)
    return (
        ds.where(F.col("event_id").between(2000, 7000))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


register(
    "snapshot_source_pruned",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE event_id BETWEEN 2000 AND 7000 AND event_id % 10 <> 7
    GROUP BY event_type ORDER BY event_type
    """,
)(snapshot_source_pruned)


# ---------------------------------------------------------------------------
# Write path of the batch data source: two executor-staged Arrow appends
# (df.write.format("snapshot_table")) followed by a read through the same
# source. The write side must stage per-task parquet + publish through the
# one atomic manifest link; the read side must see exactly the union —
# certified by the plain-SQL oracle over the source table.
# ---------------------------------------------------------------------------


def snapshot_source_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.sources.snapshot_batch import (
        register_snapshot_table,
    )

    root = _temp_root()
    register_snapshot_table(spark)
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    for r in (0, 1):
        (
            ev.where(F.col("event_id") % 2 == r)
            .write.format("snapshot_table")
            .mode("append")
            .save(root)
        )
    return (
        spark.read.format("snapshot_table")
        .load(root)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("user_id").cast("long").alias("sum_users"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


register(
    "snapshot_source_write_roundtrip",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(user_id) AS BIGINT) AS sum_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)(snapshot_source_write_roundtrip)


# ---------------------------------------------------------------------------
# Multi-table ATOMIC transaction (operators/catalog_txn.py): two snapshot
# tables (a customer slice and its orders) move in lockstep through one
# catalog-pointer flip per transaction. The query reads BOTH tables
# through catalog versions 1 and 2 and aggregates the cross-table join:
# at every catalog version the orders slice matches the customer slice
# exactly (n_orders rows all join), which is precisely the cross-table
# consistency a per-table reader cannot guarantee. Oracle reconstructs
# each transaction's world arithmetically from the split keys.
# ---------------------------------------------------------------------------

_TXN_K1, _TXN_K2 = 500, 1000


def snapshot_catalog_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.operators.catalog_txn import (
        catalog_read,
        catalog_txn,
    )
    from airflow_postgres_csv_spark.queries._helpers import dec

    cat, root_c, root_o = _temp_root(), _temp_root(), _temp_root()
    cust = load(spark, sf_dir, "customer")
    ords = load(spark, sf_dir, "orders")
    catalog_txn(
        cat,
        [
            {"name": "cust", "root": root_c,
             "df": cust.where(F.col("c_custkey") < _TXN_K1)},
            {"name": "ords", "root": root_o,
             "df": ords.where(F.col("o_custkey") < _TXN_K1)},
        ],
    )
    catalog_txn(
        cat,
        [
            {"name": "cust", "root": root_c,
             "df": cust.where(
                 (F.col("c_custkey") >= _TXN_K1) & (F.col("c_custkey") < _TXN_K2))},
            {"name": "ords", "root": root_o,
             "df": ords.where(
                 (F.col("o_custkey") >= _TXN_K1) & (F.col("o_custkey") < _TXN_K2))},
        ],
        expect_pinned=True,
    )
    outs = []
    for v in (1, 2):
        cc = catalog_read(spark, cat, "cust", catalog_version=v)
        oo = catalog_read(spark, cat, "ords", catalog_version=v)
        n_cust = cc.agg(F.count(F.lit(1)).alias("n_cust"))
        joined = oo.join(cc, oo["o_custkey"] == cc["c_custkey"]).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("total_price"),
        )
        outs.append(
            n_cust.crossJoin(F.broadcast(joined)).select(
                F.lit(v).alias("catalog_version"),
                "n_cust",
                "n_orders",
                "total_price",
            )
        )
    return outs[0].unionAll(outs[1]).orderBy("catalog_version")


register(
    "snapshot_catalog_txn",
    f"""
    SELECT 1 AS catalog_version,
           (SELECT COUNT(*) FROM customer WHERE c_custkey < {_TXN_K1}) AS n_cust,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders WHERE o_custkey < {_TXN_K1}
    UNION ALL
    SELECT 2 AS catalog_version,
           (SELECT COUNT(*) FROM customer WHERE c_custkey < {_TXN_K2}) AS n_cust,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders WHERE o_custkey < {_TXN_K2}
    ORDER BY catalog_version
    """,
)(snapshot_catalog_txn)


# ---------------------------------------------------------------------------
# LIVE atomic two-table expectations: same routing battery as
# streaming_expectations_live but with catalog_write_with_expectations as
# the batch body (operators/catalog_txn.py) -- the clean and quarantine
# tables are read back THROUGH the catalog, whose single batch-stamped flip
# published them together; the catalog version count equals the
# micro-batch count.
# ---------------------------------------------------------------------------


def streaming_catalog_expectations_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os
    import shutil

    from airflow_postgres_csv_spark.operators.catalog_txn import (
        catalog_read,
        catalog_versions,
    )
    from airflow_postgres_csv_spark.operators.expectations import (
        Expectation,
        catalog_write_with_expectations,
    )
    from airflow_postgres_csv_spark.streaming.sinks import start_batch_sink

    src = os.path.join(_temp_root(), "src")
    os.makedirs(src)
    shutil.copy(os.path.join(sf_dir, "events.parquet"),
                os.path.join(src, "000.parquet"))
    schema = spark.read.parquet(src).schema
    cat, clean, quar = _temp_root(), _temp_root(), _temp_root()
    rules = [
        Expectation("value_in_band", "value < 90", "warn"),
        Expectation("user_not_heldout", "user_id % 10 <> 3", "drop"),
        Expectation("not_canary_shard", "event_id % 7 <> 0", "quarantine"),
    ]
    q = start_batch_sink(
        spark.readStream.schema(schema).parquet(src)
        .select("event_id", "user_id", "event_type", "value"),
        lambda df, bid: catalog_write_with_expectations(
            df, cat, ("clean", clean), rules, ("quar", quar),
            batch_id=bid, retries=2,
        ),
        os.path.join(_temp_root(), "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_flips = len(catalog_versions(cat))  # one micro-batch -> one flip
    main = catalog_read(spark, cat, "clean").select(
        "event_id", F.lit("written").alias("route"), F.lit("").alias("failed")
    )
    qr = catalog_read(spark, cat, "quar").select(
        "event_id", F.lit("quarantined").alias("route"),
        F.col("_failed_expectations").alias("failed"),
    )
    return (
        main.unionAll(qr)
        .withColumn("catalog_flips", F.lit(n_flips))
        .orderBy("event_id")
    )


register(
    "streaming_catalog_expectations_live",
    """
    SELECT event_id,
           CASE WHEN event_id % 7 <> 0 THEN 'written' ELSE 'quarantined' END AS route,
           CASE WHEN event_id % 7 <> 0 THEN '' ELSE 'not_canary_shard' END AS failed,
           1 AS catalog_flips
    FROM events
    WHERE user_id % 10 <> 3
    ORDER BY event_id
    """,
)(streaming_catalog_expectations_live)


# ---------------------------------------------------------------------------
# Catalog DESCRIBE HISTORY: the transaction chain of a two-table catalog
# as a relation -- per catalog version: lineage, table count, and each
# table's pinned snapshot version (exploded to scalar rows for the
# driver's canonicalizer). Timestamps are clock-dependent and excluded;
# the monotonicity of committed_at is asserted structurally instead.
# ---------------------------------------------------------------------------


def snapshot_catalog_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.operators.catalog_txn import (
        catalog_history,
        catalog_txn,
    )

    cat, root_c, root_o = _temp_root(), _temp_root(), _temp_root()
    cust = load(spark, sf_dir, "customer")
    ords = load(spark, sf_dir, "orders")
    catalog_txn(
        cat,
        [
            {"name": "cust", "root": root_c,
             "df": cust.where(F.col("c_custkey") < 300)},
            {"name": "ords", "root": root_o,
             "df": ords.where(F.col("o_custkey") < 300)},
        ],
        note="bootstrap",
    )
    catalog_txn(
        cat,
        [
            {"name": "ords", "root": root_o,
             "df": ords.where(
                 (F.col("o_custkey") >= 300) & (F.col("o_custkey") < 600))},
        ],
        expect_pinned=True,
        note="orders-only",
    )
    hist = catalog_history(cat)
    ts = [h["committed_at"] for h in hist]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)
    rows = [
        (
            h["version"],
            h["parent"],
            h["note"],
            len(h["tables"]),
            name,
            h["tables"][name]["version"],
        )
        for h in hist
        for name in sorted(h["tables"])
    ]
    return arrow_local_df(spark, 
        rows,
        "catalog_version int, parent int, note string, n_tables int,"
        " table_name string, pinned_version int",
    ).orderBy("catalog_version", "table_name")


register(
    "snapshot_catalog_history",
    """
    SELECT * FROM (VALUES
        (1, NULL, 'bootstrap',   2, 'cust', 1),
        (1, NULL, 'bootstrap',   2, 'ords', 1),
        (2, 1,    'orders-only', 2, 'cust', 1),
        (2, 1,    'orders-only', 2, 'ords', 2)
    ) AS t(catalog_version, parent, note, n_tables, table_name, pinned_version)
    ORDER BY catalog_version, table_name
    """,
)(snapshot_catalog_history)


# ---------------------------------------------------------------------------
# Catalog AS-OF-timestamp time travel: two transactions move a two-table
# catalog; reading BOTH tables as-of the first transaction's commit
# stamp returns exactly that transaction's mutually-consistent world
# (the stamp is taken from catalog_history, so the query is clock-
# independent). Output = per-table row counts at the as-of world plus
# the resolved catalog version.
# ---------------------------------------------------------------------------


def snapshot_catalog_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.operators.catalog_txn import (
        catalog_history,
        catalog_read,
        catalog_txn,
        catalog_version_as_of,
    )

    cat, root_c, root_o = _temp_root(), _temp_root(), _temp_root()
    cust = load(spark, sf_dir, "customer")
    ords = load(spark, sf_dir, "orders")
    catalog_txn(
        cat,
        [
            {"name": "cust", "root": root_c,
             "df": cust.where(F.col("c_custkey") < 400)},
            {"name": "ords", "root": root_o,
             "df": ords.where(F.col("o_custkey") < 400)},
        ],
    )
    catalog_txn(
        cat,
        [
            {"name": "cust", "root": root_c,
             "df": cust.where(
                 (F.col("c_custkey") >= 400) & (F.col("c_custkey") < 900))},
            {"name": "ords", "root": root_o,
             "df": ords.where(
                 (F.col("o_custkey") >= 400) & (F.col("o_custkey") < 900))},
        ],
        expect_pinned=True,
    )
    t1 = catalog_history(cat)[0]["committed_at"]
    v = catalog_version_as_of(cat, t1)
    n_c = catalog_read(spark, cat, "cust", as_of=t1).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    n_o = catalog_read(spark, cat, "ords", as_of=t1).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return n_c.crossJoin(F.broadcast(n_o)).select(
        F.lit(v).alias("resolved_version"), "n_cust", "n_orders"
    )


register(
    "snapshot_catalog_as_of",
    """
    SELECT 1 AS resolved_version,
           (SELECT COUNT(*) FROM customer WHERE c_custkey < 400) AS n_cust,
           (SELECT COUNT(*) FROM orders WHERE o_custkey < 400) AS n_orders
    """,
)(snapshot_catalog_as_of)


# ---------------------------------------------------------------------------
# Catalog DDL (VERDICT r6 item 5): create / rename / drop a table binding
# as atomic catalog versions, with name resolution PER VERSION — a rename
# replayed across time travel resolves the old name at old versions and
# the new name after, and a drop is a retention-protected unbind (old
# catalog versions keep serving the table). The probe reads BOTH names at
# every catalog version: -1 marks "not bound at that version".
# ---------------------------------------------------------------------------


def snapshot_catalog_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.operators.catalog_txn import (
        catalog_ddl,
        catalog_pin_tables,
        catalog_read,
        catalog_tables,
    )

    cat, root = _temp_root(), _temp_root()
    nation = load(spark, sf_dir, "nation")
    snapshot_commit(nation.where(F.col("n_nationkey") < _SPLIT_KEY), root)
    # catalog v1: CREATE bronze.nation bound to table v1
    catalog_ddl(
        cat, [{"op": "create", "name": "bronze.nation", "root": root}]
    )
    # catalog v2: the table grows, the pin moves
    m2 = snapshot_commit(nation.where(F.col("n_nationkey") >= _SPLIT_KEY), root)
    catalog_pin_tables(cat, {"bronze.nation": (root, m2["version"])})
    # catalog v3: RENAME bronze.nation -> silver.nation (pin move, no data)
    catalog_ddl(
        cat, [{"op": "rename", "name": "bronze.nation", "to": "silver.nation"}]
    )
    # catalog v4: DROP silver.nation (unbind only — v1..v3 still resolve)
    catalog_ddl(cat, [{"op": "drop", "name": "silver.nation"}])

    parts = []
    for v in (1, 2, 3, 4):
        bound = catalog_tables(cat, catalog_version=v)
        cols = []
        for alias, name in (
            ("n_bronze", "bronze.nation"), ("n_silver", "silver.nation")
        ):
            if name in bound:
                cols.append(
                    catalog_read(spark, cat, name, catalog_version=v).agg(
                        F.count(F.lit(1)).cast("long").alias(alias)
                    )
                )
            else:
                cols.append(
                    spark.range(1).select(F.lit(-1).cast("long").alias(alias))
                )
        n_bronze_ns = len(catalog_tables(cat, "bronze", catalog_version=v))
        parts.append(
            cols[0].crossJoin(F.broadcast(cols[1])).select(
                F.lit(v).alias("catalog_version"),
                "n_bronze",
                "n_silver",
                F.lit(n_bronze_ns).alias("n_in_bronze_ns"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("catalog_version")


register(
    "snapshot_catalog_ddl",
    f"""
    SELECT 1 AS catalog_version,
           (SELECT COUNT(*) FROM nation WHERE n_nationkey < {_SPLIT_KEY}) AS n_bronze,
           CAST(-1 AS BIGINT) AS n_silver, 1 AS n_in_bronze_ns
    UNION ALL
    SELECT 2, (SELECT COUNT(*) FROM nation), CAST(-1 AS BIGINT), 1
    UNION ALL
    SELECT 3, CAST(-1 AS BIGINT), (SELECT COUNT(*) FROM nation), 0
    UNION ALL
    SELECT 4, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), 0
    ORDER BY catalog_version
    """,
)(snapshot_catalog_ddl)


# ---------------------------------------------------------------------------
# Batch data source THROUGH the catalog (VERDICT r6 item 7): two tables
# published by catalog transactions are read with option("catalog", ...)
# .option("table", ...) at a PINNED catalog version and joined — the
# Data-Source path gets the same multi-table-consistent view as
# catalog_read, including after later transactions move the heads. The
# probe reads catalog v1 (both tables at their first-txn state) while the
# live heads are already at txn 2 — so a mismatched resolution cannot
# hide.
# ---------------------------------------------------------------------------


def snapshot_source_catalog_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.operators.catalog_txn import catalog_txn
    from airflow_postgres_csv_spark.queries._helpers import dec
    from airflow_postgres_csv_spark.sources.snapshot_batch import (
        register_snapshot_table,
    )

    cat, root_c, root_o = _temp_root(), _temp_root(), _temp_root()
    cust = load(spark, sf_dir, "customer")
    ords = load(spark, sf_dir, "orders")
    catalog_txn(
        cat,
        [
            {"name": "cust", "root": root_c,
             "df": cust.where(F.col("c_custkey") < _TXN_K1)},
            {"name": "ords", "root": root_o,
             "df": ords.where(F.col("o_custkey") < _TXN_K1)},
        ],
    )
    catalog_txn(
        cat,
        [
            {"name": "cust", "root": root_c,
             "df": cust.where(
                 (F.col("c_custkey") >= _TXN_K1) & (F.col("c_custkey") < _TXN_K2))},
            {"name": "ords", "root": root_o,
             "df": ords.where(
                 (F.col("o_custkey") >= _TXN_K1) & (F.col("o_custkey") < _TXN_K2))},
        ],
        expect_pinned=True,
    )
    register_snapshot_table(spark)

    def src(name, cv):
        return (
            spark.read.format("snapshot_table")
            .option("catalog", cat)
            .option("table", name)
            .option("catalogVersion", cv)
            .load()
        )

    parts = []
    for cv in (1, 2):
        cc, oo = src("cust", cv), src("ords", cv)
        parts.append(
            oo.join(cc, oo["o_custkey"] == cc["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(dec("o_totalprice")).cast("double").alias("total_price"),
            )
            .select(
                F.lit(cv).alias("catalog_version"),
                "c_mktsegment",
                "n_orders",
                "total_price",
            )
        )
    return parts[0].unionAll(parts[1]).orderBy("catalog_version", "c_mktsegment")


register(
    "snapshot_source_catalog_read",
    f"""
    WITH probe AS (
      SELECT 1 AS catalog_version, {_TXN_K1} AS k
      UNION ALL SELECT 2, {_TXN_K2}
    )
    SELECT p.catalog_version, c.c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM probe p
    JOIN orders o ON o.o_custkey < p.k
    JOIN customer c ON c.c_custkey = o.o_custkey AND c.c_custkey < p.k
    GROUP BY p.catalog_version, c.c_mktsegment
    ORDER BY p.catalog_version, c.c_mktsegment
    """,
)(snapshot_source_catalog_read)


# ---------------------------------------------------------------------------
# Full MERGE INTO clause surface (round 7): WHEN MATCHED AND <cond> THEN
# DELETE / WHEN MATCHED AND <cond> THEN UPDATE SET <exprs over t,s> /
# WHEN NOT MATCHED AND <cond> THEN INSERT * — one copy-on-write commit,
# replayed by the change feed as Delta-CDF pre/post pairs. The oracle
# reconstructs the merged state with a LEFT JOIN + CASE — the ANSI
# definition of the clause semantics.
# ---------------------------------------------------------------------------


def snapshot_merge_into_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_merge_into,
    )

    root = _temp_root()
    ev = load(spark, sf_dir, "events")
    snapshot_commit(ev.where(F.col("event_id") % 2 == 0), root)
    snapshot_commit(ev.where(F.col("event_id") % 2 == 1), root)
    matched_src = ev.where(
        (F.col("event_id") % 7 == 0) & (F.col("event_id") < 5000)
    ).withColumn("value", F.col("value") * 2)
    new_src = ev.where(
        (F.col("event_id") % 7 == 3) & (F.col("event_id") < 200)
    ).select(
        (F.col("event_id") + 1000000).alias("event_id"),
        "ts",
        "user_id",
        F.lit("merged").alias("event_type"),
        F.lit(1.5).alias("value"),
        "props",
    )
    source = matched_src.select(*ev.columns).unionByName(
        new_src.select(*ev.columns)
    )
    snapshot_merge_into(
        spark, root, source, key="event_id",
        matched_update={"value": "t.value + s.value",
                        "event_type": "'updated'"},
        matched_update_condition="s.event_id % 3 = 1",
        matched_delete_condition="s.event_id % 3 = 0",
        not_matched_condition="s.event_type = 'merged'",
    )
    return (
        snapshot_read(spark, root)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


register(
    "snapshot_merge_into_clauses",
    """
    WITH src AS (
      SELECT event_id, value * 2 AS value
      FROM events WHERE event_id % 7 = 0 AND event_id < 5000
      UNION ALL
      SELECT event_id + 1000000, 1.5
      FROM events WHERE event_id % 7 = 3 AND event_id < 200
    ),
    merged AS (
      SELECT CASE WHEN s.event_id IS NOT NULL AND s.event_id % 3 = 1
                  THEN 'updated' ELSE t.event_type END AS event_type,
             CASE WHEN s.event_id IS NOT NULL AND s.event_id % 3 = 1
                  THEN t.value + s.value ELSE t.value END AS value
      FROM events t LEFT JOIN src s ON t.event_id = s.event_id
      WHERE s.event_id IS NULL OR s.event_id % 3 <> 0
      UNION ALL
      SELECT 'merged', s.value
      FROM src s LEFT JOIN events t ON t.event_id = s.event_id
      WHERE t.event_id IS NULL
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM merged GROUP BY event_type ORDER BY event_type
    """,
)(snapshot_merge_into_clauses)


# ---------------------------------------------------------------------------
# MERGE INTO schema evolution (round 8): merge_schema=True lets the
# source ADD a column through the merge (Delta's mergeSchema) — matched
# rows take the new column's value, untouched pre-evolution rows read it
# as NULL, and the change feed replays exactly across the evolution: the
# query replays the whole history (including the evolving merge) into a
# fresh replica via snapshot_apply_changes and pins row-set equality as
# replica_ok. The oracle reconstructs the merged state with the ANSI
# LEFT-JOIN definition; score = user_id/4 is exact in binary, so no
# cross-engine rounding is involved.
# ---------------------------------------------------------------------------


def snapshot_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_apply_changes,
        snapshot_merge_into,
    )

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    root, dst = _temp_root(), _temp_root()
    snapshot_commit(ev.where(F.col("event_id") % 2 == 0), root)
    snapshot_commit(ev.where(F.col("event_id") % 2 == 1), root)
    matched_src = ev.where(
        (F.col("event_id") % 10 == 0) & (F.col("event_id") < 5000)
    ).select(
        "event_id",
        "user_id",
        (F.col("value") * 2).alias("value"),
        (F.col("user_id").cast("double") / 4).alias("score"),
    )
    new_src = ev.where(
        (F.col("event_id") % 10 == 3) & (F.col("event_id") < 100)
    ).select(
        (F.col("event_id") + 1000000).alias("event_id"),
        "user_id",
        F.lit(1.5).alias("value"),
        F.lit(9.25).alias("score"),
    )
    snapshot_merge_into(
        spark, root, matched_src.unionByName(new_src), key="event_id",
        matched_update={"value": "s.value", "score": "s.score"},
        merge_schema=True,
    )
    snapshot_apply_changes(spark, root, dst, key_col="event_id", from_version=0)
    final = snapshot_read(spark, root).select(
        "event_id", "user_id", "value", "score"
    )
    replica = snapshot_read(spark, dst).select(
        "event_id", "user_id", "value", "score"
    )
    from airflow_postgres_csv_spark.queries._helpers import multiset_equal

    # one signed-count aggregation instead of two full exceptAll jobs
    replica_ok = int(multiset_equal(final, replica))
    return (
        final.withColumn(
            "class",
            F.when(F.col("event_id") >= 1000000, "inserted")
            .when(F.col("score").isNotNull(), "updated")
            .otherwise("untouched"),
        )
        .groupBy("class")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
            F.sum(F.col("score").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_score"),
        )
        .withColumn("replica_ok", F.lit(replica_ok))
        .orderBy("class")
    )


register(
    "snapshot_merge_schema_evolution",
    """
    WITH base AS (SELECT event_id, user_id, value FROM events),
    src AS (
      SELECT event_id, user_id, value * 2 AS value,
             CAST(user_id AS DOUBLE) / 4 AS score
      FROM base WHERE event_id % 10 = 0 AND event_id < 5000
      UNION ALL
      SELECT event_id + 1000000, user_id, 1.5, 9.25
      FROM base WHERE event_id % 10 = 3 AND event_id < 100
    ),
    merged AS (
      SELECT t.event_id,
             CASE WHEN s.event_id IS NOT NULL THEN s.value ELSE t.value END AS value,
             CASE WHEN s.event_id IS NOT NULL THEN s.score ELSE NULL END AS score
      FROM base t LEFT JOIN src s ON t.event_id = s.event_id
      UNION ALL
      SELECT s.event_id, s.value, s.score
      FROM src s LEFT JOIN base t ON t.event_id = s.event_id
      WHERE t.event_id IS NULL
    )
    SELECT CASE WHEN event_id >= 1000000 THEN 'inserted'
                WHEN score IS NOT NULL THEN 'updated'
                ELSE 'untouched' END AS class,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           CAST(SUM(CAST(score AS DECIMAL(18,2))) AS DOUBLE) AS total_score,
           1 AS replica_ok
    FROM merged
    GROUP BY 1 ORDER BY class
    """,
)(snapshot_merge_schema_evolution)


# ---------------------------------------------------------------------------
# LIVE streaming MERGE INTO (round 7): two micro-batches (the events
# fixture split by event_id parity, maxFilesPerTrigger=1) each
# pre-aggregate per user and MERGE into a keyed running-totals table —
# UPDATE SET accumulates decimal-exact totals and a merge counter,
# INSERT * on first sight, batch-id-stamped inside each merge's atomic
# publish. Users active in both halves carry batches=2 — proof the
# second micro-batch really took the UPDATE path.
# ---------------------------------------------------------------------------


def streaming_merge_upsert_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from airflow_postgres_csv_spark.queries._helpers import dec
    from airflow_postgres_csv_spark.streaming.sinks import (
        merge_into_batch,
        start_batch_sink,
    )

    src = os.path.join(_temp_root(), "src")
    os.makedirs(src)
    ev = load(spark, sf_dir, "events")
    for i in (0, 1):
        _stage_stream_file(
            ev.where(F.col("event_id") % 2 == i), src, i
        )
    schema = spark.read.parquet(src).schema
    root = _temp_root()

    def prepare(df):
        return df.groupBy("user_id").agg(
            F.sum(dec("value")).alias("total"),
            F.count(F.lit(1)).alias("n"),
            F.lit(1).cast("long").alias("batches"),
        )

    matched_update = {
        "total": "t.total + s.total",
        "n": "t.n + s.n",
        "batches": "t.batches + 1",
    }
    q = start_batch_sink(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        lambda df, bid: merge_into_batch(
            prepare(df), bid, root, "user_id", matched_update=matched_update
        ),
        os.path.join(_temp_root(), "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        snapshot_read(spark, root)
        .select(
            "user_id",
            F.col("total").cast("double").alias("total"),
            "n",
            "batches",
        )
        .orderBy("user_id")
    )


register(
    "streaming_merge_upsert_live",
    """
    SELECT user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
           COUNT(*) AS n,
           CAST(COUNT(DISTINCT event_id % 2) AS BIGINT) AS batches
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)(streaming_merge_upsert_live)


# ---------------------------------------------------------------------------
# Hilbert-curve OPTIMIZE (round 7): same contract as snapshot_zorder_pruned
# but re-clustered on the Hilbert index (operators/layout.hilbert_value —
# consecutive curve positions are grid neighbors, so per-file extents are
# tighter than Morton's quadrant jumps). The oracle certifies the
# clustered rewrite changed NOTHING about the rows; the pruning payoff is
# pinned in tests/test_snapshots.py::test_compact_hilbert_prunes_2d.
# ---------------------------------------------------------------------------


def snapshot_hilbert_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_compact,
        snapshot_scan,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    root = _temp_root()
    for r in range(5):
        snapshot_commit(events.where(F.pmod("event_id", F.lit(5)) == r), root)
    snapshot_compact(
        spark, root, target_bytes=64 * 1024,
        zorder_by=("user_id", "event_id"), curve="hilbert",
    )
    box = {"user_id": (100, 400), "event_id": (1000, 6000)}
    return (
        snapshot_scan(spark, root, ranges=box)
        .where(
            F.col("user_id").between(100, 400)
            & F.col("event_id").between(1000, 6000)
        )
        .orderBy("event_id")
    )


register(
    "snapshot_hilbert_pruned",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE user_id BETWEEN 100 AND 400
      AND event_id BETWEEN 1000 AND 6000
    ORDER BY event_id
    """,
)(snapshot_hilbert_pruned)


# ---------------------------------------------------------------------------
# Three-column OPTIMIZE ZORDER BY (round 8): liquid-clustering-style
# layouts routinely cluster 3-4 columns; snapshot_compact now interleaves
# N columns (layout.zorder_value / the n-D Skilling hilbert_value, each
# column scaled into a 63//n-bit budget). The oracle certifies the
# 3-column clustered rewrite changed NOTHING about the rows under a 3-D
# box predicate; the pruning payoff (clustered layout keeps a strictly
# smaller file fraction than a 1-D sort) is pinned in
# tests/test_snapshots.py::test_compact_zorder3_prunes_3d.
# ---------------------------------------------------------------------------


def snapshot_zorder3_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_compact,
        snapshot_scan,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    root = _temp_root()
    for r in range(5):
        snapshot_commit(events.where(F.pmod("event_id", F.lit(5)) == r), root)
    snapshot_compact(
        spark, root, target_bytes=64 * 1024,
        zorder_by=("user_id", "event_id", "value"),
    )
    box = {
        "user_id": (100, 400),
        "event_id": (1000, 6000),
        "value": (10.0, 60.0),
    }
    return (
        snapshot_scan(spark, root, ranges=box)
        .where(
            F.col("user_id").between(100, 400)
            & F.col("event_id").between(1000, 6000)
            & F.col("value").between(10.0, 60.0)
        )
        .orderBy("event_id")
    )


register(
    "snapshot_zorder3_pruned",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE user_id BETWEEN 100 AND 400
      AND event_id BETWEEN 1000 AND 6000
      AND value BETWEEN 10.0 AND 60.0
    ORDER BY event_id
    """,
)(snapshot_zorder3_pruned)


# ---------------------------------------------------------------------------
# Incremental OPTIMIZE (round 8): the maintenance cadence a streaming
# table needs at 100 TB — cluster only the commits added since the last
# optimize (O(new data) per cycle), keep previously-optimized files by
# pointer. The oracle certifies the two optimize generations together
# still read as exactly the staged rows under a 2-D box predicate; the
# only-new-files / tombstone-fold / feed-skip invariants are pinned in
# tests/test_snapshots.py::test_optimize_incremental_clusters_only_new_files.
# ---------------------------------------------------------------------------


def snapshot_optimize_incremental_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_optimize_incremental,
        snapshot_scan,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    root = _temp_root()
    for r in range(3):
        snapshot_commit(events.where(F.pmod("event_id", F.lit(5)) == r), root)
    snapshot_optimize_incremental(
        spark, root, zorder_by=("user_id", "event_id"),
        target_bytes=64 * 1024,
    )
    for r in (3, 4):
        snapshot_commit(events.where(F.pmod("event_id", F.lit(5)) == r), root)
    snapshot_optimize_incremental(
        spark, root, zorder_by=("user_id", "event_id"),
        target_bytes=64 * 1024,
    )
    box = {"user_id": (100, 400), "event_id": (2000, 7000)}
    return (
        snapshot_scan(spark, root, ranges=box)
        .where(
            F.col("user_id").between(100, 400)
            & F.col("event_id").between(2000, 7000)
        )
        .orderBy("event_id")
    )


register(
    "snapshot_optimize_incremental",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE user_id BETWEEN 100 AND 400
      AND event_id BETWEEN 2000 AND 7000
    ORDER BY event_id
    """,
)(snapshot_optimize_incremental_query)


# ---------------------------------------------------------------------------
# Per-commit HLL distinct sketches (round 8, the Iceberg-Puffin pattern):
# `snapshot_commit(sketch_cols=[...])` stores a union-mergeable
# Datasketches HLL blob per commit in its sidecar, and
# `snapshot_approx_distinct` answers COUNT(DISTINCT col) over any pinned
# version by merging O(commits) kilobyte blobs — ZERO data files scanned
# (the query pins scanned_files == 0). The oracle pins the exact distinct
# counts as reference columns and the estimate-accuracy flags: at these
# cardinalities the HLL estimate is exact; the wider +/-5% band and the
# tombstone/compaction fallback behavior are pinned in
# tests/test_snapshots.py::test_snapshot_sketch_distinct_metadata_only.
# ---------------------------------------------------------------------------


def snapshot_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_approx_distinct,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    root = _temp_root()
    for r in range(4):
        snapshot_commit(
            events.where(F.pmod("event_id", F.lit(4)) == r), root,
            sketch_cols=["user_id", "event_type"] if r == 0 else None,
        )
    du = snapshot_approx_distinct(spark, root, "user_id")
    dt = snapshot_approx_distinct(spark, root, "event_type")
    exact = events.agg(
        F.count_distinct("user_id").alias("nu"),
        F.count_distinct("event_type").alias("nt"),
    ).first()
    users_ok = int(abs(du["estimate"] - exact["nu"]) / exact["nu"] <= 0.05)
    types_ok = int(dt["estimate"] == exact["nt"])
    meta_only = int(
        du["scanned_files"] == 0
        and dt["scanned_files"] == 0
        and du["sketched_commits"] == 4
    )
    return (
        events.agg(
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
            F.count_distinct("event_type").cast("bigint").alias("n_types"),
        )
        .withColumn("users_est_ok", F.lit(users_ok))
        .withColumn("types_est_ok", F.lit(types_ok))
        .withColumn("metadata_only_ok", F.lit(meta_only))
    )


register(
    "snapshot_sketch_distinct",
    """
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           1 AS users_est_ok, 1 AS types_est_ok, 1 AS metadata_only_ok
    FROM events
    """,
)(snapshot_sketch_distinct)


# ---------------------------------------------------------------------------
# Maintenance advisor (round 8, operators/maintenance.py): the decision
# layer over compact / optimize_incremental / expire / sketch coverage —
# answered from the ROOT MANIFEST alone (stat calls, no data read, no
# Spark job), cheap enough to run per cycle over thousands of tables.
# The query drives a table into small-file debt, confirms the advisor
# recommends compaction, runs it, and confirms the table reads exactly
# and reports healthy; the per-axis trigger/recovery grid is pinned in
# tests/test_maintenance.py.
# ---------------------------------------------------------------------------


def snapshot_maintenance_plan_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.operators.maintenance import (
        snapshot_maintenance_plan,
    )
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_compact

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    root = _temp_root()
    for r in range(6):
        snapshot_commit(
            events.where(F.pmod("event_id", F.lit(6)) == r).coalesce(1), root
        )
    p1 = snapshot_maintenance_plan(root)
    compact_recommended = int(
        [a["action"] for a in p1["actions"]] == ["compact"]
        and p1["metrics"]["n_files"] == 6
    )
    snapshot_compact(spark, root, target_bytes=1 << 30)
    p2 = snapshot_maintenance_plan(root, max_versions=16)
    healthy_after = int(p2["actions"] == [] and p2["metrics"]["n_files"] == 1)
    return (
        snapshot_read(spark, root)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .withColumn("compact_recommended", F.lit(compact_recommended))
        .withColumn("healthy_after", F.lit(healthy_after))
    )


register(
    "snapshot_maintenance_plan",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           1 AS compact_recommended, 1 AS healthy_after
    FROM events
    """,
)(snapshot_maintenance_plan_query)


# ---------------------------------------------------------------------------
# Sketch backfill (round 8): a table that enabled sketch_cols AFTER
# ingesting history reaches metadata-only distinct counts without a
# rewrite — snapshot_sketch_backfill scans exactly the unsketched
# commits once, writes NEW sidecars beside the immutable originals, and
# repoints them in one metadata-only commit. The oracle pins the exact
# reference count and the flags: pre-backfill answers scanned files,
# post-backfill answers from metadata alone with the SAME estimate
# contract, and the op reports exactly the two backfilled commits.
# ---------------------------------------------------------------------------


def snapshot_sketch_backfill_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_approx_distinct,
        snapshot_sketch_backfill,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    root = _temp_root()
    for r in range(2):  # pre-config history
        snapshot_commit(events.where(F.pmod("event_id", F.lit(3)) == r), root)
    snapshot_commit(
        events.where(F.pmod("event_id", F.lit(3)) == 2), root,
        sketch_cols=["user_id"],
    )
    pre = snapshot_approx_distinct(spark, root, "user_id")
    m = snapshot_sketch_backfill(spark, root)
    post = snapshot_approx_distinct(spark, root, "user_id")
    exact = events.agg(F.count_distinct("user_id").alias("n")).first()["n"]
    pre_scans = int(pre["scanned_files"] > 0 and pre["sketched_commits"] == 1)
    backfilled_ok = int(m["backfilled_commits"] == 2)
    post_meta_only = int(
        post["scanned_files"] == 0
        and post["sketched_commits"] == 3
        and abs(post["estimate"] - exact) / exact <= 0.05
    )
    return (
        events.agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
        .withColumn("pre_scans_ok", F.lit(pre_scans))
        .withColumn("backfilled_ok", F.lit(backfilled_ok))
        .withColumn("post_metadata_only_ok", F.lit(post_meta_only))
    )


register(
    "snapshot_sketch_backfill",
    """
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           1 AS pre_scans_ok, 1 AS backfilled_ok, 1 AS post_metadata_only_ok
    FROM events
    """,
)(snapshot_sketch_backfill_query)


# ---------------------------------------------------------------------------
# 3-column HILBERT OPTIMIZE (round 8): the n-D Skilling fold
# (layout.hilbert_value, n>=3) through the same compaction contract as
# snapshot_zorder3_pruned — driver-facing evidence for the genuinely
# novel expression path (per-bit-plane exchange/invert F.aggregate fold
# + Gray correction + transposed interleave). Bijectivity and the
# neighbor property are pinned in tests/test_snapshots.py; the oracle
# certifies the clustered rewrite preserves rows exactly under a 3-D box.
# ---------------------------------------------------------------------------


def snapshot_hilbert3_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_compact,
        snapshot_scan,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    root = _temp_root()
    for r in range(5):
        snapshot_commit(events.where(F.pmod("event_id", F.lit(5)) == r), root)
    snapshot_compact(
        spark, root, target_bytes=64 * 1024,
        zorder_by=("user_id", "event_id", "value"), curve="hilbert",
    )
    box = {
        "user_id": (50, 300),
        "event_id": (2000, 8000),
        "value": (20.0, 80.0),
    }
    return (
        snapshot_scan(spark, root, ranges=box)
        .where(
            F.col("user_id").between(50, 300)
            & F.col("event_id").between(2000, 8000)
            & F.col("value").between(20.0, 80.0)
        )
        .orderBy("event_id")
    )


register(
    "snapshot_hilbert3_pruned",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE user_id BETWEEN 50 AND 300
      AND event_id BETWEEN 2000 AND 8000
      AND value BETWEEN 20.0 AND 80.0
    ORDER BY event_id
    """,
)(snapshot_hilbert3_pruned)


# ---------------------------------------------------------------------------
# DESCRIBE DETAIL (round 9, operators/maintenance.py::snapshot_table_stats):
# the observability face of the maintenance advisor — file/byte/commit
# counts, clustered fraction, sketch coverage, tombstone and retention
# debt, all answered from the ROOT MANIFEST's per-commit rollups (zero
# sidecar opens, zero per-file stat calls — the spy pins live in
# tests/test_maintenance.py). The query cross-checks the reported totals
# against independently computed ground truth (os.path.getsize over the
# pinned files, commit arithmetic) and emits the agreement flags; the
# oracle pins the fixture row count and the flags.
# ---------------------------------------------------------------------------


def snapshot_table_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from airflow_postgres_csv_spark.operators.maintenance import (
        snapshot_table_stats,
    )
    from airflow_postgres_csv_spark.operators.snapshots import (
        _load_manifest,
        snapshot_delete_mor,
        snapshot_optimize_incremental,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    root = _temp_root()
    for r in range(4):
        snapshot_commit(
            events.where(F.pmod("event_id", F.lit(4)) == r).coalesce(1), root,
            sketch_cols=["user_id"] if r == 0 else None,
        )
    snapshot_optimize_incremental(
        spark, root, zorder_by=("user_id", "event_id"), target_bytes=1 << 30
    )
    snapshot_delete_mor(spark, root, condition="event_id = 1", key_col="event_id")
    st = snapshot_table_stats(root)
    m = _load_manifest(root, snapshot_versions(root)[-1])
    true_bytes = sum(
        os.path.getsize(os.path.join(root, rel)) for rel in m["files"]
    )
    counts_ok = int(
        st["n_commits"] == 1  # optimize folded the 4 appends
        and st["n_files"] == len(m["files"])
        and st["total_bytes"] == true_bytes
        and st["small_files"] == st["n_files"]  # fixture files are tiny
    )
    health_ok = int(
        st["clustered_fraction"] == 1.0
        and st["sketch_coverage"] == 1.0  # the rewrite re-sketched everything
        and st["n_tombstones"] == 1
        and st["partial_commits"] == 0
        and st["retained_versions"] == 6
        and st["schema_cols"] == 4
    )
    history_ok = int(
        snapshot_table_stats(root, version=4)["n_commits"] == 4
    )
    return (
        snapshot_read(spark, root)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .withColumn("counts_ok", F.lit(counts_ok))
        .withColumn("health_ok", F.lit(health_ok))
        .withColumn("history_ok", F.lit(history_ok))
    )


register(
    "snapshot_table_stats",
    """
    SELECT CAST(COUNT(*) - 1 AS BIGINT) AS n_rows,
           1 AS counts_ok, 1 AS health_ok, 1 AS history_ok
    FROM events
    """,
)(snapshot_table_stats_query)


# ---------------------------------------------------------------------------
# SQL-addressable snapshot tables (sources/snapshot_batch.py::
# snapshot_sql_register): raw spark.sql TEXT names two snapshot tables —
# orders pinned at version 1 (time travel through the view) and customer
# at latest — and joins them with a selective range predicate. The views
# are native pinned scans (the same plan as snapshot_read); the session's
# spark.sql hook reads the range Catalyst pushed into the orders scan,
# prunes the range-clustered commits through _plan_scan and re-plans the
# statement over the kept files (plan-pinned in
# tests/test_snapshot_batch_source.py); the oracle reconstructs the pinned
# version arithmetically.
# ---------------------------------------------------------------------------


def snapshot_sql_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.sources.snapshot_batch import (
        snapshot_sql_register,
    )

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    o_root, c_root = _temp_root(), _temp_root()
    # v1 = every third order key; v2 appends the rest (pin must hide it)
    snapshot_commit(
        orders.where(F.col("o_orderkey") % 3 == 0), o_root,
        partition_by=["o_orderkey"],
    )
    snapshot_commit(orders.where(F.col("o_orderkey") % 3 != 0), o_root)
    snapshot_commit(customer, c_root)
    snapshot_sql_register(spark, "snap_orders_v1", o_root, version=1)
    snapshot_sql_register(spark, "snap_customer", c_root)
    return spark.sql(
        """
        SELECT c.c_mktsegment AS mktsegment,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_price,
               MIN(o.o_orderkey) AS first_key
        FROM snap_orders_v1 o
        JOIN snap_customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderkey BETWEEN 1000 AND 30000
        GROUP BY c.c_mktsegment
        ORDER BY mktsegment
        """
    )


register(
    "snapshot_sql_read",
    """
    SELECT c.c_mktsegment AS mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price,
           MIN(o.o_orderkey) AS first_key
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey % 3 = 0 AND o.o_orderkey BETWEEN 1000 AND 30000
    GROUP BY c.c_mktsegment
    ORDER BY mktsegment
    """,
)(snapshot_sql_read)


# ---------------------------------------------------------------------------
# Declared partition spec / hidden partitioning (round 9,
# operators/partitioning.py): snapshot_commit(partition_transforms=
# [("ts","day"), ("user_id","bucket",4)]) writes one hive directory per
# partition tuple, records exact per-file tuples in the commit sidecar
# and per-commit day-ranges/bucket-bitmasks in the ROOT manifest, and the
# planner maps ordinary ts/user_id predicates through the transforms —
# pruning GUARANTEED by declared metadata (a commit whose day range
# excludes the window is skipped from the root without opening its
# sidecar; tests/test_partitioning.py pins the open counts). The commits
# split the fixture by event_id quartiles (ts is monotone in event_id,
# so day summaries are disjoint); the result aggregates one bucket-pruned
# user's events and the flags pin that both pruning layers engaged.
# Timestamps are handled timezone-free end to end (epoch-micros
# transforms; the row filter uses unix_micros, never a session-tz cast).
# ---------------------------------------------------------------------------


def snapshot_partition_spec_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as _dt

    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_scan,
        snapshot_scan_files,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    n = events.count()
    root = _temp_root()
    for k in range(4):
        snapshot_commit(
            events.where(
                (F.col("event_id") >= k * n // 4)
                & (F.col("event_id") < (k + 1) * n // 4)
            ),
            root,
            partition_transforms=[("ts", "day"), ("user_id", "bucket", 4)]
            if k == 0
            else None,  # hidden partitioning: sticky after the first commit
        )
    # plan-level pins: a 3-day window prunes whole commits from the root;
    # a bucket equality prunes files inside surviving commits
    day_plan = snapshot_scan_files(
        root,
        ranges={"ts": (_dt.datetime(2024, 1, 14), _dt.datetime(2024, 1, 17))},
    )
    eq_plan = snapshot_scan_files(root, ranges={"user_id": (17, 17)})
    total_files = day_plan["kept"] + day_plan["skipped"]
    day_pruned = int(
        day_plan["commits_skipped"] >= 2
        and day_plan["sidecars_loaded"] <= 2
        and 0 < day_plan["kept"] < total_files // 2
    )
    bucket_pruned = int(0 < eq_plan["kept"] < total_files // 2)
    lo_us = 19736 * 86_400 * 1_000_000  # 2024-01-14 00:00:00 UTC
    hi_us = 19739 * 86_400 * 1_000_000  # 2024-01-17 00:00:00 UTC
    return (
        snapshot_scan(spark, root, ranges={"user_id": (17, 17)})
        .where(
            (F.col("user_id") == 17)
            & F.unix_micros(F.col("ts")).between(lo_us, hi_us)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .withColumn("day_pruned", F.lit(day_pruned))
        .withColumn("bucket_pruned", F.lit(bucket_pruned))
        .orderBy("event_type")
    )


register(
    "snapshot_partition_spec_pruned",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           1 AS day_pruned, 1 AS bucket_pruned
    FROM events
    WHERE user_id = 17
      AND epoch_us(ts) BETWEEN 1705190400000000 AND 1705449600000000
    GROUP BY event_type ORDER BY event_type
    """,
)(snapshot_partition_spec_pruned)


# ---------------------------------------------------------------------------
# Partition SPEC EVOLUTION (round 9): the table starts day-partitioned,
# a later commit evolves the spec to day+bucket, and a third plain
# commit inherits the evolved spec (hidden partitioning). Specs are
# append-only and every commit pins the spec index it was written
# under, so the planner maps each predicate through each commit's OWN
# transforms: a bucket equality prunes files only inside spec-1 commits
# (spec-0 commits keep all files — no wrong pruning across the
# evolution), while a day range prunes across both generations. The
# result set re-aggregates the bucket-pruned scan; flags pin the spec
# bookkeeping and both pruning behaviors.
# ---------------------------------------------------------------------------


def snapshot_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as _dt

    from airflow_postgres_csv_spark.operators.snapshots import (
        _load_manifest,
        snapshot_scan,
        snapshot_scan_files,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    n = events.count()
    root = _temp_root()
    splits = [
        events.where(F.col("event_id") < n // 3),
        events.where(
            (F.col("event_id") >= n // 3) & (F.col("event_id") < 2 * n // 3)
        ),
        events.where(F.col("event_id") >= 2 * n // 3),
    ]
    snapshot_commit(splits[0], root, partition_transforms=[("ts", "day")])
    snapshot_commit(
        splits[1], root,
        partition_transforms=[("ts", "day"), ("user_id", "bucket", 4)],
    )
    snapshot_commit(splits[2], root)  # inherits the evolved spec
    m = _load_manifest(root, 3)
    spec_ids = sorted(cp["s"] for cp in m["commit_partitions"].values())
    evolution_ok = int(
        len(m["partition_specs"]) == 2 and spec_ids == [0, 1, 1]
    )
    # day range prunes across BOTH spec generations (ts monotone in
    # event_id => the three commits' day summaries are near-disjoint)
    day_plan = snapshot_scan_files(
        root,
        ranges={"ts": (_dt.datetime(2024, 1, 4), _dt.datetime(2024, 1, 7))},
    )
    total = day_plan["kept"] + day_plan["skipped"]
    day_ok = int(day_plan["commits_skipped"] >= 1 and 0 < day_plan["kept"] < total)
    # bucket equality: only spec-1 commits may drop files for it
    eq_plan = snapshot_scan_files(root, ranges={"user_id": (23, 23)})
    bucket_ok = int(0 < eq_plan["kept"] < total)
    return (
        snapshot_scan(spark, root, ranges={"user_id": (23, 23)})
        .where(F.col("user_id") == 23)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .withColumn("evolution_ok", F.lit(evolution_ok))
        .withColumn("day_pruned", F.lit(day_ok))
        .withColumn("bucket_pruned", F.lit(bucket_ok))
        .orderBy("event_type")
    )


register(
    "snapshot_partition_evolution",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           1 AS evolution_ok, 1 AS day_pruned, 1 AS bucket_pruned
    FROM events
    WHERE user_id = 23
    GROUP BY event_type ORDER BY event_type
    """,
)(snapshot_partition_evolution)


def snapshot_join_runtime_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime join-time file pruning (operators/runtime_filter.py — the
    dynamic-file-pruning analog of Spark's DPP, answered from the
    snapshot manifest): lineitem committed as four disjoint l_orderkey
    ranges, joined to a dimension of URGENT orders confined to the
    second key quartile. The dimension's collected key set (or its
    [min, max] envelope once it overflows ``max_keys`` at larger SFs —
    both modes must prune identically here) proves three of the four
    fact commits can hold no match, so their sidecars are never opened
    and their files never scanned; ``commits_pruned_ok`` pins that from
    the planning counters while the oracle certifies the joined rows.
    Bounds derive from MAX(o_orderkey) on both sides: SF-independent."""
    from airflow_postgres_csv_spark.operators.runtime_filter import (
        runtime_filter,
        snapshot_join,
        snapshot_join_files,
    )
    from airflow_postgres_csv_spark.queries._helpers import dec

    lineitem = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    orders = load(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderkey")).first()[0]
    q = [0, mx // 4, mx // 2, (3 * mx) // 4, mx + 1]
    root = _temp_root()
    for i in range(4):
        snapshot_commit(
            lineitem.where(
                (F.col("l_orderkey") >= q[i]) & (F.col("l_orderkey") < q[i + 1])
            ).coalesce(1),
            root,
        )
    dim = orders.where(
        (F.col("o_orderkey") >= q[1])
        & (F.col("o_orderkey") < q[2])
        & (F.col("o_orderpriority") == "1-URGENT")
    ).select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    plan = snapshot_join_files(
        root, "l_orderkey", runtime_filter(dim, "l_orderkey")
    )
    pruned_ok = int(plan["commits_skipped"] == 3 and plan["sidecars_loaded"] == 1)
    return (
        snapshot_join(spark, root, dim, on="l_orderkey")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue"),
        )
        .withColumn("commits_pruned_ok", F.lit(pruned_ok))
        .orderBy("l_returnflag")
    )


register(
    "snapshot_join_runtime_pruned",
    """
    SELECT l.l_returnflag, COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue,
           1 AS commits_pruned_ok
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey >= (SELECT MAX(o_orderkey) // 4 FROM orders)
      AND o.o_orderkey <  (SELECT MAX(o_orderkey) // 2 FROM orders)
      AND o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """,
)(snapshot_join_runtime_pruned)


def snapshot_wap_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish on a branch (operators/branches.py): the odd
    half of ``events`` is staged on an ephemeral branch and audited
    against the FULL would-be table state. Attempt 1 carries a failing
    aggregate audit — main must remain exactly the even half (the branch
    is quarantined, not published). Attempt 2 re-stages with passing
    audits and fast-forwards main in one atomic manifest link. The oracle
    states both observed main states: after-fail = evens only,
    after-publish = the whole table."""
    from airflow_postgres_csv_spark.operators.branches import (
        AuditError,
        snapshot_branches,
        snapshot_drop_branch,
        write_audit_publish,
    )

    events = load(spark, sf_dir, "events").select("event_id", "event_type")
    total = events.count()
    root = _temp_root()
    snapshot_commit(events.where(F.pmod("event_id", F.lit(2)) == 0), root)
    odd = events.where(F.pmod("event_id", F.lit(2)) == 1)
    try:
        write_audit_publish(
            spark, root, odd,
            audits={"impossible_volume": f"count(*) > {total}"},
            branch="triage",
        )
        raise AssertionError("failing audit must raise")  # pragma: no cover
    except AuditError:
        pass
    after_fail = snapshot_read(spark, root).select(
        F.lit("after_fail").alias("side"), "event_id", "event_type"
    )
    assert "triage" in snapshot_branches(root)  # quarantined, readable
    snapshot_drop_branch(root, "triage")
    write_audit_publish(
        spark, root, odd,
        audits={
            "complete": f"count(*) = {total}",
            "no_null_keys": "count_if(event_id IS NULL) = 0",
        },
    )
    after_pub = snapshot_read(spark, root).select(
        F.lit("after_publish").alias("side"), "event_id", "event_type"
    )
    return after_fail.unionAll(after_pub).orderBy("side", "event_id")


register(
    "snapshot_wap_branch",
    """
    SELECT * FROM (
        SELECT 'after_fail' AS side, event_id, event_type FROM events
        WHERE event_id % 2 = 0
        UNION ALL
        SELECT 'after_publish', event_id, event_type FROM events
    ) ORDER BY side, event_id
    """,
)(snapshot_wap_branch)


def snapshot_txn_rebase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-statement transaction + snapshot-isolation rebase
    (operators/branches.py): a transaction stages two appends (the
    event_id%4==1 and %4==3 slices) on its branch while MAIN concurrently
    lands the %4==2 slice; the plain fast-forward publish refuses
    (first-committer-wins pinned), then the rebase publish replays the
    append-only branch onto the moved head in ONE merged manifest. Final
    state must be every slice exactly once — the oracle is simply the
    whole table — and the transaction's two appends become one atomic
    main version (pinned: exactly 3 main versions)."""
    from airflow_postgres_csv_spark.operators.branches import (
        snapshot_branch,
        snapshot_publish_branch,
    )
    from airflow_postgres_csv_spark.operators.snapshots import (
        SnapshotConflictError,
        snapshot_versions,
    )

    events = load(spark, sf_dir, "events").select("event_id", "event_type")
    part = F.pmod("event_id", F.lit(4))
    root = _temp_root()
    snapshot_commit(events.where(part == 0), root)
    broot = snapshot_branch(root, "txn")
    snapshot_commit(events.where(part == 1), broot)
    snapshot_commit(events.where(part == 3), broot)
    snapshot_commit(events.where(part == 2), root)  # main races ahead
    try:
        snapshot_publish_branch(root, "txn")
        raise AssertionError("fast-forward must refuse")  # pragma: no cover
    except SnapshotConflictError:
        pass
    m = snapshot_publish_branch(root, "txn", rebase=True)
    assert m["rebased"] is True and snapshot_versions(root) == [1, 2, 3]
    return snapshot_read(spark, root).orderBy("event_id")


register(
    "snapshot_txn_rebase",
    "SELECT event_id, event_type FROM events ORDER BY event_id",
)(snapshot_txn_rebase)


def streaming_wap_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING write-audit-publish (streaming/sinks.py::wap_batch):
    three micro-batches (events split by ``event_id % 3``) flow through
    an aggregate-audit gate; the middle batch carries NULLed event_types
    (every ``event_id % 7 = 0`` row) so the ``no_null_types`` audit fails
    — that batch is QUARANTINED on a retained branch while batches 0 and
    2 publish, and the stream never stops. The oracle is the two clean
    slices; structural flags pin that exactly one branch was quarantined
    and that its triage state equals published-head-at-fork + the bad
    batch."""
    import os as _os
    import shutil as _shutil

    from airflow_postgres_csv_spark.operators.branches import snapshot_branches
    from airflow_postgres_csv_spark.streaming.sinks import (
        start_batch_sink,
        wap_batch,
    )

    events = load(spark, sf_dir, "events").select("event_id", "event_type")
    part = F.pmod("event_id", F.lit(3))
    batches = [
        events.where(part == 0),
        events.where(part == 1).withColumn(
            "event_type",
            F.when(F.pmod("event_id", F.lit(7)) == 0, F.lit(None)).otherwise(
                F.col("event_type")
            ),
        ),
        events.where(part == 2),
    ]
    src = _os.path.join(_temp_root(), "src")
    _os.makedirs(src)
    for i, b in enumerate(batches):
        _stage_stream_file(b, src, i)
    root = _temp_root()
    audits = {"no_null_types": "count_if(event_type IS NULL) = 0",
              "nonempty": "count(*) > 0"}
    q = start_batch_sink(
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        lambda df, bid: wap_batch(df, bid, root, audits),
        _os.path.join(_temp_root(), "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    branches = snapshot_branches(root)
    n0 = batches[0].count()
    n1 = batches[1].count()
    triage_ok = int(
        list(branches) == ["wap-1"]
        and snapshot_read(spark, branches["wap-1"]["root"]).count() == n0 + n1
    )
    return (
        snapshot_read(spark, root)
        .withColumn("triage_ok", F.lit(triage_ok))
        .orderBy("event_id")
    )


register(
    "streaming_wap_live",
    """
    SELECT event_id, event_type, 1 AS triage_ok FROM events
    WHERE event_id % 3 <> 1 ORDER BY event_id
    """,
)(streaming_wap_live)


def snapshot_catalog_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table write-audit-publish through the catalog
    (operators/catalog_txn.py::catalog_write_audit_publish): a documents
    slice and its per-type rollup stage on per-table branches; a
    CROSS-TABLE audit (rollup total == doc count) rejects a deliberately
    off-by-one rollup — catalog AND both table roots untouched, staged
    branches retained as a mutually-consistent triage snapshot — then
    the corrected pair publishes and ONE catalog link pins both tables.
    The oracle is the doc slice; the flag pins rollup consistency as
    read back THROUGH the catalog."""
    from airflow_postgres_csv_spark.operators.branches import AuditError
    from airflow_postgres_csv_spark.operators.catalog_txn import (
        catalog_read,
        catalog_versions,
        catalog_write_audit_publish,
    )
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_versions,
    )

    events = load(spark, sf_dir, "events").select("event_id", "event_type")
    docs = events.where(F.pmod("event_id", F.lit(2)) == 0)
    good = docs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    bad = docs.groupBy("event_type").agg(
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n")
    )
    cat, r1, r2 = _temp_root(), _temp_root(), _temp_root()
    cross = {
        "rollup_total": lambda s: s["stats"].agg(F.sum("n")).first()[0]
        == s["docs"].count()
    }
    try:
        catalog_write_audit_publish(
            spark, cat,
            [{"name": "docs", "root": r1, "df": docs},
             {"name": "stats", "root": r2, "df": bad}],
            cross_audits=cross,
        )
        raise AssertionError("bad rollup must fail")  # pragma: no cover
    except AuditError:
        pass
    assert catalog_versions(cat) == [] and snapshot_versions(r1) == []
    catalog_write_audit_publish(
        spark, cat,
        [{"name": "docs", "root": r1, "df": docs},
         {"name": "stats", "root": r2, "df": good}],
        audits={"docs": {"nonempty": "count(*) > 0"}},
        cross_audits=cross,
    )
    out = catalog_read(spark, cat, "docs")
    total = catalog_read(spark, cat, "stats").agg(F.sum("n")).first()[0]
    return out.withColumn(
        "stats_total_ok", F.lit(int(total == out.count()))
    ).orderBy("event_id")


register(
    "snapshot_catalog_wap",
    """
    SELECT event_id, event_type, 1 AS stats_total_ok FROM events
    WHERE event_id % 2 = 0 ORDER BY event_id
    """,
)(snapshot_catalog_wap)


def pipeline_snapshot_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten, end to end: the erasure request lands as a
    cheap MOR equality tombstone (zero data files rewritten), compaction
    FOLDS it into a clean rewrite, and age/count retention EXPIRES every
    pre-erasure version plus the delete-key files — after which the
    erased users are unreadable at EVERY retained version (no time
    travel resurrects them) and no tombstone remains in any retained
    manifest. The oracle is the surviving rows; the flags pin the
    compliance invariants the SQL cannot see."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        _load_manifest,
        snapshot_compact,
        snapshot_delete_mor,
        snapshot_expire,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    root = _temp_root()
    for r in range(2):
        snapshot_commit(events.where(F.pmod("event_id", F.lit(2)) == r), root)
    snapshot_delete_mor(spark, root, "user_id % 97 = 0", key_col="event_id")
    snapshot_compact(spark, root)
    snapshot_expire(root, keep_last=1)
    versions = snapshot_versions(root)
    erased_everywhere = int(
        all(
            snapshot_read(spark, root, version=v)
            .where("user_id % 97 = 0")
            .count() == 0
            for v in versions
        )
    )
    no_tombstones = int(
        all(not _load_manifest(root, v).get("tombstones") for v in versions)
    )
    return (
        snapshot_read(spark, root)
        .withColumn("erased_everywhere", F.lit(erased_everywhere))
        .withColumn("no_tombstones", F.lit(no_tombstones))
        .withColumn("one_version", F.lit(int(len(versions) == 1)))
        .orderBy("event_id")
    )


register(
    "pipeline_snapshot_gdpr_erasure",
    """
    SELECT event_id, user_id, event_type,
           1 AS erased_everywhere, 1 AS no_tombstones, 1 AS one_version
    FROM events WHERE user_id % 97 <> 0 ORDER BY event_id
    """,
)(pipeline_snapshot_gdpr_erasure)


def snapshot_alter_instant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only ALTER TABLE (operators/snapshots.py::snapshot_alter):
    after committing the even half of ``events``, ADD COLUMN batch
    DEFAULT 1 lands as a ZERO-DATA commit — same pinned files, evolved
    schema — and the odd half appends under the new shape with batch=2.
    Reads align instantly (pre-ALTER rows default-fill), so the oracle
    is a plain CASE on the split."""
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_alter

    events = load(spark, sf_dir, "events").select("event_id", "event_type")
    root = _temp_root()
    snapshot_commit(events.where(F.pmod("event_id", F.lit(2)) == 0), root)
    m = snapshot_alter(root, add={"batch": "long"}, column_defaults={"batch": 1})
    assert m["mode"] == "alter" and not m.get("tombstones")
    snapshot_commit(
        events.where(F.pmod("event_id", F.lit(2)) == 1).withColumn(
            "batch", F.lit(2).cast("long")
        ),
        root,
    )
    return snapshot_read(spark, root).orderBy("event_id")


register(
    "snapshot_alter_instant",
    """
    SELECT event_id, event_type,
           CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END AS batch
    FROM events ORDER BY event_id
    """,
)(snapshot_alter_instant)


def snapshot_branch_review(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-publish branch REVIEW diff
    (operators/branches.py::snapshot_branch_changes): the odd half of
    ``events`` is staged on a branch and its 'click' rows MOR-deleted;
    the review feed lists EXACTLY what a publish would apply — inserts
    at the branch's append version, delete pre-images (evaluated over
    the branch state, so both halves' clicks) at its delete version —
    without touching main. The oracle states both row sets."""
    from airflow_postgres_csv_spark.operators.branches import (
        snapshot_branch,
        snapshot_branch_changes,
    )
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_delete_mor

    events = load(spark, sf_dir, "events").select("event_id", "event_type")
    root = _temp_root()
    snapshot_commit(events.where(F.pmod("event_id", F.lit(2)) == 0), root)
    broot = snapshot_branch(root, "review")
    snapshot_commit(events.where(F.pmod("event_id", F.lit(2)) == 1), broot)
    snapshot_delete_mor(spark, broot, "event_type = 'click'", key_col="event_id")
    ch = snapshot_branch_changes(spark, root, "review")
    assert snapshot_versions(root) == [1]  # main untouched by the review
    return ch.select(
        "event_id", "event_type", "_change_type", "_commit_version"
    ).orderBy("_commit_version", "event_id")


register(
    "snapshot_branch_review",
    """
    SELECT * FROM (
        SELECT event_id, event_type, 'insert' AS _change_type,
               CAST(2 AS BIGINT) AS _commit_version
        FROM events WHERE event_id % 2 = 1
        UNION ALL
        SELECT event_id, event_type, 'delete', CAST(3 AS BIGINT)
        FROM events WHERE event_type = 'click'
    ) ORDER BY _commit_version, event_id
    """,
)(snapshot_branch_review)


def snapshot_vacuum_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-file GC (operators/snapshots.py::snapshot_vacuum —
    Iceberg's remove_orphan_files): ``orders`` lands in two commits,
    then a crash-staged parquet no manifest pins is planted under
    ``data/`` and aged past the safety window. Vacuum collects exactly
    that one file, keeps BOTH versions readable (it never drops
    history), and the table reads losslessly afterwards; a second
    vacuum finds nothing. The vacuum stats ride the result as literal
    columns the oracle restates."""
    import os

    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_vacuum,
    )

    orders = load(spark, sf_dir, "orders")
    root = _temp_root()
    snapshot_commit(orders.where(F.pmod("o_orderkey", F.lit(2)) == 0), root)
    snapshot_commit(orders.where(F.pmod("o_orderkey", F.lit(2)) == 1), root)
    staged = os.path.join(root, "data", "deadbeefcafe")
    os.makedirs(staged)
    orphan = os.path.join(staged, "part-crashed.parquet")
    with open(orphan, "wb") as f:
        f.write(b"PAR1 crash before manifest link PAR1")
    import time

    old = time.time_ns() - 10 * 86400 * 10**9
    os.utime(orphan, ns=(old, old))
    stats = snapshot_vacuum(root)
    again = snapshot_vacuum(root)
    out = (
        snapshot_read(spark, root)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )
    return (
        out.withColumn(
            "removed_files", F.lit(stats["removed_files"]).cast("int")
        )
        .withColumn(
            "removed_again", F.lit(again["removed_files"]).cast("int")
        )
        .withColumn(
            "n_versions",
            F.lit(len(snapshot_versions(root))).cast("int"),
        )
        .orderBy("o_orderpriority")
    )


register(
    "snapshot_vacuum_orphans",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price,
           1 AS removed_files,
           0 AS removed_again,
           2 AS n_versions
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)(snapshot_vacuum_orphans)


def snapshot_alter_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE RENAME COLUMN (operators/snapshots.py::snapshot_alter
    ``rename=``): the even half of ``events`` commits under the original
    ``event_type`` name, the column is renamed to ``etype`` in a
    zero-data commit, the odd half appends under the NEW name, and a
    merge-on-read delete keyed on ``event_id`` then removes the 'click'
    rows by their renamed column — reaching pre-rename files through the
    manifest's name lineage (column_history). The final read returns
    every surviving row under the current name; time travel to v1 (also
    asserted) still shows the original name. Oracle restates the rename
    as a SQL alias."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_alter,
        snapshot_delete_mor,
    )

    events = load(spark, sf_dir, "events").select("event_id", "event_type")
    root = _temp_root()
    snapshot_commit(events.where(F.pmod("event_id", F.lit(2)) == 0), root)
    m = snapshot_alter(root, rename={"event_type": "etype"})
    assert m["mode"] == "alter" and m["column_history"] == {
        "etype": ["event_type"]
    }
    snapshot_commit(
        events.where(F.pmod("event_id", F.lit(2)) == 1).withColumnRenamed(
            "event_type", "etype"
        ),
        root,
    )
    snapshot_delete_mor(spark, root, "etype = 'click'", key_col="event_id")
    assert snapshot_read(spark, root, version=1).columns == [
        "event_id",
        "event_type",
    ]
    return snapshot_read(spark, root).orderBy("event_id")


register(
    "snapshot_alter_rename",
    """
    SELECT event_id, event_type AS etype
    FROM events WHERE event_type <> 'click' ORDER BY event_id
    """,
)(snapshot_alter_rename)


def snapshot_catalog_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-level branch (operators/catalog_txn.py::catalog_branch):
    a two-table world (``docs`` = even events, ``stats`` = its per-type
    rollup) forks as ONE catalog branch; the branch stages the odd half
    plus the recomputed rollup with a cross-table audit, while MAIN
    still reads the fork-point world (captured as the ``before_*``
    literal columns); ``catalog_publish_branch`` then flips both pins in
    one atomic catalog version. The result is the post-publish rollup
    read THROUGH main joined with the before/after counts; the oracle
    restates all of it from the fixture."""
    from airflow_postgres_csv_spark.operators.catalog_txn import (
        catalog_branch,
        catalog_branch_write,
        catalog_publish_branch,
        catalog_read,
        catalog_txn,
    )

    events = load(spark, sf_dir, "events").select("event_id", "event_type")
    even = events.where(F.pmod("event_id", F.lit(2)) == 0)
    odd = events.where(F.pmod("event_id", F.lit(2)) == 1)

    def rollup(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )

    cat, r_docs, r_stats = _temp_root(), _temp_root(), _temp_root()
    catalog_txn(
        cat,
        [{"name": "docs", "root": r_docs, "df": even},
         {"name": "stats", "root": r_stats, "df": rollup(even)}],
    )
    catalog_branch(cat, "exp")
    catalog_branch_write(
        spark, cat, "exp",
        [{"name": "docs", "df": odd},
         {"name": "stats", "df": rollup(events), "mode": "overwrite"}],
        cross_audits={
            "rollup_total": lambda s: s["stats"].agg(F.sum("n")).first()[0]
            == s["docs"].count()
        },
    )
    # main still serves the fork-point world for BOTH tables
    before_docs = catalog_read(spark, cat, "docs").count()
    before_total = (
        catalog_read(spark, cat, "stats").agg(F.sum("n")).first()[0]
    )
    catalog_publish_branch(cat, "exp")
    out = catalog_read(spark, cat, "stats")
    after_docs = catalog_read(spark, cat, "docs").count()
    return (
        out.withColumn("before_docs", F.lit(before_docs).cast("bigint"))
        .withColumn("before_total", F.lit(before_total).cast("bigint"))
        .withColumn("after_docs", F.lit(after_docs).cast("bigint"))
        .orderBy("event_type")
    )


register(
    "snapshot_catalog_branch",
    """
    SELECT event_type,
           COUNT(*) AS n,
           (SELECT COUNT(*) FROM events WHERE event_id % 2 = 0)
             AS before_docs,
           (SELECT COUNT(*) FROM events WHERE event_id % 2 = 0)
             AS before_total,
           (SELECT COUNT(*) FROM events) AS after_docs
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)(snapshot_catalog_branch)


def snapshot_metadata_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queryable metadata tables
    (operators/maintenance.py::snapshot_metadata_table — Iceberg's
    ``t.history`` / ``t.files``): ``events`` lands in two appends plus a
    merge-on-read delete; the HISTORY table states exactly that lineage
    (modes, file/tombstone counts per version) and the FILES table's
    row count at head rides along as a literal column. The oracle
    restates the whole lineage as constants — the metadata is a pure
    function of the staged operations."""
    from airflow_postgres_csv_spark.operators.maintenance import (
        snapshot_metadata_table,
    )
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_delete_mor,
    )

    events = load(spark, sf_dir, "events").select("event_id", "event_type")
    root = _temp_root()
    snapshot_commit(
        events.where(F.pmod("event_id", F.lit(2)) == 0).coalesce(1), root
    )
    snapshot_commit(
        events.where(F.pmod("event_id", F.lit(2)) == 1).coalesce(1), root
    )
    snapshot_delete_mor(
        spark, root, "event_type = 'click'", key_col="event_id"
    )
    hist = snapshot_metadata_table(spark, root, "history")
    n_head_files = snapshot_metadata_table(spark, root, "files").count()
    return (
        hist.select("version", "mode", "n_files", "n_tombstones")
        .withColumn("head_files", F.lit(n_head_files).cast("bigint"))
        .orderBy("version")
    )


register(
    "snapshot_metadata_history",
    """
    SELECT CAST(version AS INT) AS version, mode,
           CAST(n_files AS BIGINT) AS n_files,
           CAST(n_tombstones AS BIGINT) AS n_tombstones,
           CAST(2 AS BIGINT) AS head_files
    FROM (VALUES (1, 'append', 1, 0),
                 (2, 'append', 2, 0),
                 (3, 'delete-mor', 2, 1))
         AS t(version, mode, n_files, n_tombstones)
    ORDER BY version
    """,
)(snapshot_metadata_history)


# ---------------------------------------------------------------------------
# Metadata-only aggregates (round 10, operators/fast_agg.py): COUNT(*) and
# MIN/MAX answered from the root manifest's per-commit row-count rollup and
# zone maps — Iceberg's manifest-stats aggregate pushdown. Exact or
# fallback, never approximate: a merge-on-read delete makes footer stats
# overcount, so the second phase must flip to the scan path and still agree
# with the oracle's WHERE-filtered truth.
# ---------------------------------------------------------------------------


def snapshot_fast_count_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.operators.fast_agg import (
        snapshot_fast_agg,
    )
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_delete_mor,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    root = _temp_root()
    for r in range(3):
        snapshot_commit(
            events.where(F.pmod("event_id", F.lit(3)) == r).coalesce(1), root
        )
    meta = snapshot_fast_agg(
        root, ["event_id", "value", "event_type"], spark=None, allow_scan=False
    )
    metadata_only = int(
        meta["rows_source"] == "root"
        and all(c["source"] == "root" for c in meta["columns"].values())
    )
    snapshot_delete_mor(
        spark, root, "event_type = 'click'", key_col="event_id"
    )
    post = snapshot_fast_agg(root, ["event_id"], spark=spark)
    scan_exact = int(post["rows_source"] == "scan")
    return arrow_local_df(spark, 
        [
            (
                meta["n_rows"],
                meta["columns"]["event_id"]["min"],
                meta["columns"]["event_id"]["max"],
                float(meta["columns"]["value"]["min"]),
                float(meta["columns"]["value"]["max"]),
                meta["columns"]["event_type"]["min"],
                meta["columns"]["event_type"]["max"],
                metadata_only,
                post["n_rows"],
                scan_exact,
            )
        ],
        schema=(
            "n_before bigint, id_min bigint, id_max bigint, "
            "val_min double, val_max double, type_min string, "
            "type_max string, metadata_only int, n_after bigint, "
            "scan_exact int"
        ),
    )


register(
    "snapshot_fast_count",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_before,
           MIN(event_id) AS id_min, MAX(event_id) AS id_max,
           MIN(value) AS val_min, MAX(value) AS val_max,
           MIN(event_type) AS type_min, MAX(event_type) AS type_max,
           1 AS metadata_only,
           CAST((SELECT COUNT(*) FROM events WHERE event_type <> 'click')
                AS BIGINT) AS n_after,
           1 AS scan_exact
    FROM events
    """,
)(snapshot_fast_count_query)


# ---------------------------------------------------------------------------
# Catalog-stored VIEWS (round 10, operators/catalog_txn.py): CREATE VIEW as
# a versioned catalog object — SQL text resolved LATE over the reading
# catalog version's table pins (Iceberg view-spec shape), so catalog time
# travel replays the view definition AND the data of its era together. The
# query stages nation v1, creates a per-region rollup view, grows the table
# + REPLACEs the definition, then reads the view at HEAD and AS-OF the
# creation version; the oracle restates both eras straight over the parquet.
# ---------------------------------------------------------------------------


def snapshot_catalog_view_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.operators.catalog_txn import (
        catalog_ddl,
        catalog_pin_tables,
        catalog_read,
    )

    cat, nroot, rroot = _temp_root(), _temp_root(), _temp_root()
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    snapshot_commit(nation.where(F.col("n_nationkey") < _SPLIT_KEY), nroot)
    snapshot_commit(region, rroot)
    catalog_ddl(
        cat,
        [
            {"op": "create", "name": "gold.nation", "root": nroot},
            {"op": "create", "name": "gold.region", "root": rroot},
        ],
    )
    # catalog v2: the view — per-region nation counts
    catalog_ddl(
        cat,
        [
            {
                "op": "create_view",
                "name": "gold.region_rollup",
                "sql": (
                    "SELECT r.r_name AS r_name, "
                    "CAST(COUNT(*) AS BIGINT) AS n_nations "
                    "FROM n JOIN r ON n.n_regionkey = r.r_regionkey "
                    "GROUP BY r.r_name"
                ),
                "tables": {"n": "gold.nation", "r": "gold.region"},
            }
        ],
    )
    v_created = 2
    # catalog v3+v4: the table grows and the definition is REPLACEd
    m2 = snapshot_commit(
        nation.where(F.col("n_nationkey") >= _SPLIT_KEY), nroot
    )
    catalog_pin_tables(cat, {"gold.nation": (nroot, m2["version"])})
    catalog_ddl(
        cat,
        [
            {
                "op": "replace_view",
                "name": "gold.region_rollup",
                "sql": (
                    "SELECT r.r_name AS r_name, "
                    "CAST(COUNT(*) AS BIGINT) AS n_nations, "
                    "CAST(MAX(n.n_nationkey) AS BIGINT) AS max_key "
                    "FROM n JOIN r ON n.n_regionkey = r.r_regionkey "
                    "GROUP BY r.r_name"
                ),
                "tables": {"n": "gold.nation", "r": "gold.region"},
            }
        ],
    )
    head = catalog_read(spark, cat, "gold.region_rollup")
    # AS-OF the creation version: the ORIGINAL SQL over the ORIGINAL pin
    asof = catalog_read(
        spark, cat, "gold.region_rollup", catalog_version=v_created
    )
    want_asof = (
        nation.where(F.col("n_nationkey") < _SPLIT_KEY)
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nations"))
    )
    asof_ok = int(
        sorted(map(tuple, asof.collect()))
        == sorted(map(tuple, want_asof.collect()))
    )
    return head.withColumn("asof_ok", F.lit(asof_ok)).orderBy("r_name")


register(
    "snapshot_catalog_view",
    """
    SELECT r.r_name AS r_name,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           CAST(MAX(n.n_nationkey) AS BIGINT) AS max_key,
           1 AS asof_ok
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r_name
    """,
)(snapshot_catalog_view_query)


# ---------------------------------------------------------------------------
# Partition-filtered metadata aggregates (round 10, fast_agg.py): COUNT(*)
# and MIN/MAX under an identity-partition equality predicate, decided per
# FILE from the recorded partition tuples — exact in both directions
# (identity files hold exactly one value), zero data reads. The oracle is a
# plain WHERE over the source parquet; the bombed-scan flag pins that the
# answer came from metadata alone.
# ---------------------------------------------------------------------------


def snapshot_partition_count_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.operators.fast_agg import (
        snapshot_fast_agg,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    root = _temp_root()
    for r in range(2):
        snapshot_commit(
            events.where(F.pmod("event_id", F.lit(2)) == r),
            root,
            partition_transforms=[("event_type", "identity")],
        )
    got = snapshot_fast_agg(
        root, ["event_id", "value"], where={"event_type": "click"},
        spark=None, allow_scan=False,  # scan REFUSED: metadata must answer
    )
    metadata_only = int(got["rows_source"] in ("root", "sidecar"))
    return arrow_local_df(spark, 
        [
            (
                got["n_rows"],
                got["columns"]["event_id"]["min"],
                got["columns"]["event_id"]["max"],
                float(got["columns"]["value"]["min"]),
                float(got["columns"]["value"]["max"]),
                metadata_only,
            )
        ],
        schema=(
            "n_clicks bigint, id_min bigint, id_max bigint, "
            "val_min double, val_max double, metadata_only int"
        ),
    )


register(
    "snapshot_partition_count",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_clicks,
           MIN(event_id) AS id_min, MAX(event_id) AS id_max,
           MIN(value) AS val_min, MAX(value) AS val_max,
           1 AS metadata_only
    FROM events WHERE event_type = 'click'
    """,
)(snapshot_partition_count_query)


# ---------------------------------------------------------------------------
# Materialized views (round 10, operators/catalog_txn.py): stored SQL + a
# managed snapshot table + the source pins it was computed from, refreshed
# as one atomic catalog flip. The query pins the full lifecycle: refresh →
# serve materialized; source moves → reads stay on the MATERIALIZED state
# (stale-by-design, flagged in catalog_mviews, never recomputed inline);
# refresh again → current; catalog time travel replays the pre-refresh
# materialization. The oracle restates both eras over the parquet.
# ---------------------------------------------------------------------------


def snapshot_catalog_mview_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.operators.catalog_txn import (
        catalog_ddl,
        catalog_mviews,
        catalog_pin_tables,
        catalog_read,
        catalog_refresh_mview,
        catalog_versions,
    )

    cat, eroot, mroot = _temp_root(), _temp_root(), _temp_root()
    events = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    first = events.where(F.pmod("event_id", F.lit(2)) == 0)
    snapshot_commit(first, eroot)
    catalog_ddl(cat, [{"op": "create", "name": "gold.events", "root": eroot}])
    catalog_ddl(
        cat,
        [{
            "op": "create_mview",
            "name": "gold.by_type",
            "sql": (
                "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
                "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total "
                "FROM e GROUP BY event_type"
            ),
            "tables": {"e": "gold.events"},
            "root": mroot,
        }],
    )
    catalog_refresh_mview(spark, cat, "gold.by_type")
    half = {
        r["event_type"]: (r["n"], r["total"])
        for r in catalog_read(spark, cat, "gold.by_type").collect()
    }
    # the source grows; the mview is stale but serves its materialization
    m2 = snapshot_commit(
        events.where(F.pmod("event_id", F.lit(2)) == 1), eroot
    )
    catalog_pin_tables(cat, {"gold.events": (eroot, m2["version"])})
    stale_flag = catalog_mviews(cat)["gold.by_type"]["stale"]
    served_stale = {
        r["event_type"]: (r["n"], r["total"])
        for r in catalog_read(spark, cat, "gold.by_type").collect()
    }
    pre_v = catalog_versions(cat)[-1]
    catalog_refresh_mview(spark, cat, "gold.by_type")
    replay = {
        r["event_type"]: (r["n"], r["total"])
        for r in catalog_read(
            spark, cat, "gold.by_type", catalog_version=pre_v
        ).collect()
    }
    lifecycle_ok = int(
        stale_flag is True
        and served_stale == half
        and replay == half
        and catalog_mviews(cat)["gold.by_type"]["stale"] is False
    )
    return (
        catalog_read(spark, cat, "gold.by_type")
        .withColumn("lifecycle_ok", F.lit(lifecycle_ok))
        .orderBy("event_type")
    )


register(
    "snapshot_catalog_mview",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
           1 AS lifecycle_ok
    FROM events GROUP BY event_type
    ORDER BY event_type
    """,
)(snapshot_catalog_mview_query)


# ---------------------------------------------------------------------------
# Declared table constraints (round 10, snapshots.py::snapshot_add_constraint
# — Delta's ALTER TABLE ADD CONSTRAINT): boolean SQL rules stored in the
# manifest, validated against the live table when declared, then enforced on
# every value-introducing write (append / overwrite / staged data-source
# write / MERGE / UPDATE) over the STAGED files only. The query pins the
# lifecycle: declare on half the corpus, reject a violating append AND a
# violating MERGE with the table unchanged, land the clean second half, and
# return the final per-type rollup the oracle recomputes over the parquet.
# ---------------------------------------------------------------------------


def snapshot_constraints_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.operators.snapshots import (
        SnapshotExpectationError,
        snapshot_add_constraint,
        snapshot_merge,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    root = _temp_root()
    snapshot_commit(
        events.where(F.pmod("event_id", F.lit(2)) == 0).coalesce(1), root
    )
    snapshot_add_constraint(spark, root, "id_set", "event_id IS NOT NULL")
    snapshot_add_constraint(spark, root, "type_set", "event_type IS NOT NULL")
    n_before = snapshot_read(spark, root).count()
    bad_append = bad_merge = 0
    try:
        snapshot_commit(
            arrow_local_df(spark, 
                [(None, "click", 1.0)],
                "event_id bigint, event_type string, value double",
            ),
            root,
        )
    except SnapshotExpectationError:
        bad_append = 1
    try:
        snapshot_merge(
            spark, root,
            arrow_local_df(spark, 
                [(2, None, 1.0)],
                "event_id bigint, event_type string, value double",
            ),
            key="event_id",
        )
    except SnapshotExpectationError:
        bad_merge = 1
    unchanged = int(snapshot_read(spark, root).count() == n_before)
    snapshot_commit(
        events.where(F.pmod("event_id", F.lit(2)) == 1).coalesce(1), root
    )
    return (
        snapshot_read(spark, root)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .withColumn("rejected_append", F.lit(bad_append))
        .withColumn("rejected_merge", F.lit(bad_merge))
        .withColumn("unchanged_after_rejects", F.lit(unchanged))
        .orderBy("event_type")
    )


register(
    "snapshot_constraints",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           1 AS rejected_append, 1 AS rejected_merge,
           1 AS unchanged_after_rejects
    FROM events GROUP BY event_type
    ORDER BY event_type
    """,
)(snapshot_constraints_query)




# ---------------------------------------------------------------------------
# Streaming IVM sink (round 10, streaming/sinks.py::ivm_batch): each
# micro-batch lands in the SOURCE snapshot table exactly once, and a
# per-group (count, sum) rollup advances beside it via change-feed IVM —
# including a RETRACTION between stream runs (a MOR delete against the
# source while the stream is down must be subtracted from the live rollup
# by the next batch, not just stop counting). The oracle recomputes the
# rollup over the surviving rows.
# ---------------------------------------------------------------------------


def _stage_stream_file(df, src_files: str, idx: int) -> None:
    """Write one single-file micro-batch into the file-stream source dir
    with a monotone mtime (file streams order batches by mtime)."""
    import os

    from airflow_postgres_csv_spark.queries._helpers import (
        stage_single_parquet,
    )

    stage_single_parquet(
        df, os.path.join(src_files, f"{idx:03d}.parquet"), 1_000_000 + idx
    )


def streaming_ivm_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_delete_mor,
    )
    from airflow_postgres_csv_spark.streaming.sinks import (
        ivm_batch,
        start_batch_sink,
    )

    src_files = os.path.join(_temp_root(), "in")
    os.makedirs(src_files)
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    for i in (0, 1):
        _stage_stream_file(ev.where(F.col("event_id") % 3 == i), src_files, i)
    schema = spark.read.parquet(src_files).schema
    src_root, dst_root = _temp_root(), _temp_root()

    def prepare(df):
        # integer amount (exact cents) — the IVM rollup sums longs
        return df.select(
            "event_id",
            "user_id",
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )

    def run_stream():
        q = start_batch_sink(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_files),
            lambda df, bid: ivm_batch(
                prepare(df), bid, src_root, dst_root, "user_id", "cents"
            ),
            os.path.join(_temp_root(), "ckpt-ivm"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_stream()
    # out-of-band retraction while the stream is down: erase user 1's
    # rows from the SOURCE table; the next batch folds the retraction in
    snapshot_delete_mor(
        spark, src_root, condition="user_id = 1", key_col="user_id"
    )
    _stage_stream_file(ev.where(F.col("event_id") % 3 == 2), src_files, 2)
    run_stream()  # restart from the checkpoint: exactly-once + catch-up
    return (
        snapshot_read(spark, dst_root)
        .where(F.col("n") > 0)
        .select("user_id", "n", F.col("total").alias("cents_total"))
        .orderBy("user_id")
    )


register(
    "streaming_ivm_live",
    """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents_total
    FROM events
    WHERE user_id <> 1
      OR event_id % 3 = 2  -- post-erasure batch re-inserts user 1 rows
    GROUP BY user_id
    ORDER BY user_id
    """,
)(streaming_ivm_live)


# ---------------------------------------------------------------------------
# Incremental materialized view (round 10, generalized round 11): the catalog
# mview refreshed via change-feed IVM — appends AND retractions land through
# O(changes) refreshes bounded at the pinned source version, never a
# recompute. Round 11 exercises the GENERAL shape: multi-column group keys
# (user_id, event_type) and the full agg set count/sum/avg/min/max — the
# phase-2 retraction erases the cheapest events, DISPLACING group minima,
# which IVM resolves by recomputing extremes for exactly the retracting
# groups from the change feed (never a full recompute). The oracle recomputes
# the rollup over the surviving rows.
# ---------------------------------------------------------------------------


def snapshot_catalog_mview_ivm_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from airflow_postgres_csv_spark.operators.catalog_txn import (
        catalog_ddl,
        catalog_pin_tables,
        catalog_read,
        catalog_refresh_mview,
        catalog_txn,
    )
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_delete_mor,
    )

    cat, eroot, mroot = _temp_root(), _temp_root(), _temp_root()
    events = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    catalog_txn(
        cat,
        [{
            "name": "gold.events", "root": eroot,
            "df": events.where(F.pmod("event_id", F.lit(2)) == 0),
        }],
    )
    catalog_ddl(
        cat,
        [{
            "op": "create_mview", "name": "gold.by_user_type", "root": mroot,
            "tables": {"e": "gold.events"},
            "incremental": {
                "group_cols": ["user_id", "event_type"],
                "amount_col": "cents",
                "aggs": ["count", "sum", "avg", "min", "max"],
            },
        }],
    )
    catalog_refresh_mview(spark, cat, "gold.by_user_type")
    # phase 2: append the other half + erase every low-cents event (the
    # per-group MINIMA among them — the retraction-displacement case),
    # pin, refresh
    m2 = snapshot_commit(
        events.where(F.pmod("event_id", F.lit(2)) == 1), eroot
    )
    snapshot_delete_mor(
        spark, eroot, condition="cents < 2000", key_col="event_id"
    )
    catalog_pin_tables(
        cat, {"gold.events": (eroot, m2["version"] + 1)}
    )
    catalog_refresh_mview(spark, cat, "gold.by_user_type")
    return (
        catalog_read(spark, cat, "gold.by_user_type")
        .select(
            "user_id",
            "event_type",
            "n",
            F.col("total").alias("cents_total"),
            F.col("avg").alias("cents_avg"),
            F.col("mn").alias("cents_min"),
            F.col("mx").alias("cents_max"),
        )
        .orderBy("user_id", "event_type")
    )


register(
    "snapshot_catalog_mview_ivm",
    """
    WITH cents_rows AS (
        SELECT user_id, event_type,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events
    )
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS cents_total,
           CAST(SUM(cents) AS DOUBLE) / COUNT(cents) AS cents_avg,
           MIN(cents) AS cents_min,
           MAX(cents) AS cents_max
    FROM cents_rows
    WHERE cents >= 2000
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
)(snapshot_catalog_mview_ivm_query)


# ---------------------------------------------------------------------------
# TWO-TABLE JOIN IVM (round 11): a catalog mview over orders JOIN customer,
# maintained by the signed delta-join dJ = dA JOIN B1 + A0 JOIN dB
# (snapshot_incremental_join_agg) — B read at the target version, A at the
# PREVIOUSLY APPLIED version via time travel, both pruned to the delta's
# join keys. The phases force every path: seed (half the orders, most
# customers), an orders append (dA x B1), a customer append whose already-
# present orders light up (A0 x dB), an orders MOR delete displacing group
# MAXIMA (retraction-scoped recompute against the live join), and a
# customer delete retracting whole joined groups. The oracle recomputes the
# final join rollup from the surviving rows; any drift in the delta algebra
# (double-counted dAxdB cross term, stale A0, missed retraction) breaks
# value equality.
# ---------------------------------------------------------------------------


def snapshot_catalog_mview_join_ivm_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from airflow_postgres_csv_spark.operators.catalog_txn import (
        catalog_ddl,
        catalog_pin_tables,
        catalog_read,
        catalog_refresh_mview,
        catalog_txn,
    )
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_delete_mor,
    )

    cat, oroot, croot, mroot = (
        _temp_root(), _temp_root(), _temp_root(), _temp_root()
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    customer = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    catalog_txn(
        cat,
        [
            {
                "name": "gold.orders", "root": oroot,
                "df": orders.where(F.pmod("o_orderkey", F.lit(2)) == 0),
            },
            {
                "name": "gold.customer", "root": croot,
                "df": customer.where(F.pmod("c_custkey", F.lit(3)) != 0),
            },
        ],
    )
    catalog_ddl(
        cat,
        [{
            "op": "create_mview", "name": "gold.seg_rev", "root": mroot,
            "tables": {"o": "gold.orders", "c": "gold.customer"},
            "incremental": {
                "group_cols": ["c_mktsegment"],
                "amount_col": "cents",
                "aggs": ["count", "sum", "avg", "min", "max"],
                "on": {"o_custkey": "c_custkey"},
            },
        }],
    )
    catalog_refresh_mview(spark, cat, "gold.seg_rev")
    # phase 2, orders side: append the other half (dA x B1)
    snapshot_commit(
        orders.where(F.pmod("o_orderkey", F.lit(2)) == 1), oroot
    )
    catalog_pin_tables(cat, {"gold.orders": (oroot, 2)})
    catalog_refresh_mview(spark, cat, "gold.seg_rev")
    # phase 3, customer side: the %3 customers arrive — their ALREADY
    # PRESENT orders must light up through A0 x dB (A0 = orders @ v2)
    snapshot_commit(
        customer.where(F.pmod("c_custkey", F.lit(3)) == 0), croot
    )
    # phase 4, retractions on BOTH sides in one refresh: erase the most
    # expensive orders (displaces segment MAXIMA) and a slice of
    # customers (whole joined groups shrink)
    snapshot_delete_mor(
        spark, oroot, condition="cents > 30000000", key_col="o_orderkey"
    )
    snapshot_delete_mor(
        spark, croot, condition="c_custkey % 10 = 7", key_col="c_custkey"
    )
    catalog_pin_tables(
        cat, {"gold.orders": (oroot, 3), "gold.customer": (croot, 3)}
    )
    catalog_refresh_mview(spark, cat, "gold.seg_rev")
    return (
        catalog_read(spark, cat, "gold.seg_rev")
        .select(
            "c_mktsegment",
            "n",
            F.col("total").alias("cents_total"),
            F.col("avg").alias("cents_avg"),
            F.col("mn").alias("cents_min"),
            F.col("mx").alias("cents_max"),
        )
        .orderBy("c_mktsegment")
    )


register(
    "snapshot_catalog_mview_join_ivm",
    """
    WITH o AS (
        SELECT o_custkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders
    ), surviving AS (
        SELECT c.c_mktsegment, o.cents
        FROM o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.cents <= 30000000 AND c.c_custkey % 10 <> 7
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS cents_total,
           CAST(SUM(cents) AS DOUBLE) / COUNT(cents) AS cents_avg,
           MIN(cents) AS cents_min,
           MAX(cents) AS cents_max
    FROM surviving
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)(snapshot_catalog_mview_join_ivm_query)


# ---------------------------------------------------------------------------
# SQL-TEXT DML (round 11): DELETE FROM / UPDATE / MERGE INTO / INSERT
# statements read by the session's SQL parser and routed to the native
# snapshot operators (operators/sql_dml.py), each WHERE/SET/ON expression
# handed to Spark as written — the Delta/Iceberg Spark-SQL-extensions
# surface the reference gets by delegating statements to Postgres
# (reference operators.py:80). The UPDATE runs keyless merge-on-read
# (snapshot_update_where: ONE commit carrying the positional delete vector
# AND the post-image files); the MERGE exercises all three matched/not-
# matched clause kinds, its aliases rewritten at the parsed attributes'
# spans. The oracle replays the same statement sequence declaratively as a
# CTE chain over the base rows.
# ---------------------------------------------------------------------------


def snapshot_sql_dml_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.operators.sql_dml import (
        snapshot_sql_exec,
    )

    root = _temp_root()
    base = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    snapshot_commit(base, root)
    base.where(F.pmod("k", F.lit(10)) == 3).createOrReplaceTempView(
        "snapshot_dml_merge_src"
    )
    t = {"t": root}
    snapshot_sql_exec(
        spark, "DELETE FROM t WHERE cents < 10000000", tables=t
    )
    snapshot_sql_exec(
        spark,
        "UPDATE t SET status = concat(status, '+') WHERE cents > 40000000",
        tables=t,
    )
    snapshot_sql_exec(
        spark,
        """
        MERGE INTO t AS g USING snapshot_dml_merge_src AS u ON g.k = u.k
        WHEN MATCHED AND u.cents > 30000000 THEN DELETE
        WHEN MATCHED THEN UPDATE SET cents = g.cents + 7
        WHEN NOT MATCHED THEN INSERT *
        """,
        tables=t,
    )
    snapshot_sql_exec(
        spark,
        "INSERT INTO t VALUES (-1, 'Z', 123), (-2, 'Z', 456)",
        tables=t,
    )
    return (
        snapshot_read(spark, root)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("long").alias("cents_total"),
            F.min("cents").alias("cents_min"),
            F.max("cents").alias("cents_max"),
        )
        .orderBy("status")
    )


register(
    "snapshot_sql_dml",
    """
    WITH base AS (
        SELECT o_orderkey AS k, o_orderstatus AS status,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders
    ),
    d1 AS (SELECT * FROM base WHERE cents >= 10000000),
    u1 AS (
        SELECT k,
               CASE WHEN cents > 40000000 THEN status || '+'
                    ELSE status END AS status,
               cents
        FROM d1
    ),
    src AS (SELECT * FROM base WHERE k % 10 = 3),
    merged AS (
        SELECT u1.k, u1.status, u1.cents + 7 AS cents
        FROM u1 JOIN src ON u1.k = src.k
        WHERE NOT (src.cents > 30000000)
        UNION ALL
        SELECT u1.* FROM u1 LEFT JOIN src ON u1.k = src.k
        WHERE src.k IS NULL
        UNION ALL
        SELECT src.* FROM src LEFT JOIN u1 ON u1.k = src.k
        WHERE u1.k IS NULL
    ),
    final AS (
        SELECT * FROM merged
        UNION ALL
        SELECT * FROM (VALUES (-1, 'Z', 123), (-2, 'Z', 456))
            AS v(k, status, cents)
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS cents_total,
           MIN(cents) AS cents_min, MAX(cents) AS cents_max
    FROM final
    GROUP BY status
    ORDER BY status
    """,
)(snapshot_sql_dml_query)


# ---------------------------------------------------------------------------
# STREAMING JOIN IVM (round 11): facts stream into a snapshot table while a
# per-cohort rollup over facts JOIN dimension advances beside them — the
# streaming face of the delta-join (streaming/sinks.py join_ivm_batch).
# The dimension side has NO stream: a late dimension append lights up
# ALREADY-INGESTED facts through the A0 x dB term, and a dimension MOR
# delete retracts every joined row of the erased users — both folded in at
# the next micro-batch, across a checkpointed restart. The oracle
# recomputes the final join rollup from the surviving rows.
# ---------------------------------------------------------------------------


def streaming_join_ivm_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_delete_mor,
    )
    from airflow_postgres_csv_spark.streaming.sinks import (
        join_ivm_batch,
        start_batch_sink,
    )

    src_files = os.path.join(_temp_root(), "in")
    os.makedirs(src_files)
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    for i in (0, 1):
        _stage_stream_file(ev.where(F.col("event_id") % 3 == i), src_files, i)
    schema = spark.read.parquet(src_files).schema
    a_root, b_root, dst_root = _temp_root(), _temp_root(), _temp_root()
    dim = ev.select("user_id").distinct().select(
        "user_id",
        F.concat(F.lit("c"), F.pmod("user_id", F.lit(5)).cast("string"))
        .alias("cohort"),
    )
    # seed the dimension with the EVEN users only — odd users' facts
    # stream in dark and light up when the dimension catches up
    snapshot_commit(dim.where(F.pmod("user_id", F.lit(2)) == 0), b_root)

    def prepare(df):
        return df.select(
            "event_id",
            "user_id",
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )

    def run_stream():
        q = start_batch_sink(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_files),
            lambda df, bid: join_ivm_batch(
                prepare(df), bid, a_root, b_root, dst_root,
                on="user_id", group_col="cohort", amount_col="cents",
            ),
            os.path.join(_temp_root(), "ckpt-jivm"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_stream()
    # dimension moves while the stream is DOWN: the odd users arrive
    # (already-ingested facts light up via A0 x dB) and the %7==1 users
    # are erased (their joined rows retract)
    snapshot_commit(dim.where(F.pmod("user_id", F.lit(2)) == 1), b_root)
    snapshot_delete_mor(
        spark, b_root, condition="user_id % 7 = 1", key_col="user_id"
    )
    _stage_stream_file(ev.where(F.col("event_id") % 3 == 2), src_files, 2)
    run_stream()  # checkpointed restart: exactly-once + catch-up
    return (
        snapshot_read(spark, dst_root)
        .where(F.col("n") > 0)
        .select("cohort", "n", F.col("total").alias("cents_total"))
        .orderBy("cohort")
    )


register(
    "streaming_join_ivm_live",
    """
    WITH dim AS (
        SELECT DISTINCT user_id,
               'c' || CAST(user_id % 5 AS VARCHAR) AS cohort
        FROM events
        WHERE user_id % 7 <> 1
    )
    SELECT d.cohort, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents_total
    FROM events e JOIN dim d ON e.user_id = d.user_id
    GROUP BY d.cohort
    ORDER BY d.cohort
    """,
)(streaming_join_ivm_live)


# ---------------------------------------------------------------------------
# Partition-scoped compaction (round 11): Iceberg's rewrite_data_files with
# a filter — only the hot partition's files rewrite (MOR tombstones folded
# in), every other partition is inherited by pointer. The structural claims
# ride the oracle: scoped_rewrite pins that files OUTSIDE the filter
# survived untouched while the target partition collapsed to the writer's
# one-file-per-tuple layout, and the content equality pins row preservation
# through the tombstone fold.
# ---------------------------------------------------------------------------


def snapshot_compact_partition_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from airflow_postgres_csv_spark.operators.snapshots import (
        _load_manifest,
        _load_sidecar,
        snapshot_compact_partition,
        snapshot_delete_mor,
    )

    root = _temp_root()
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    # four commits: the en partition accumulates small-file debt
    snapshot_commit(
        docs.where(F.pmod("doc_id", F.lit(4)) == 0), root,
        partition_transforms=[("lang", "identity")],
    )
    for i in (1, 2, 3):
        snapshot_commit(docs.where(F.pmod("doc_id", F.lit(4)) == i), root)
    # erase the longest documents (both partitions carry tombstones)
    snapshot_delete_mor(
        spark, root, condition="n_chars > 1500", key_col="doc_id"
    )
    m0 = _load_manifest(root, snapshot_versions(root)[-1])
    out = snapshot_compact_partition(spark, root, {"lang": "en"})
    en_before = sum(
        1
        for cid, sc_rel in m0["sidecars"].items()
        for rel, tup in (
            _load_sidecar(root, m0, cid).get("partitions") or {}
        ).items()
        if rel in set(m0["files"]) and tup == ["en"]
    )
    scoped = int(
        out["files_rewritten"] == en_before
        and out["files_kept"] == len(m0["files"]) - en_before
        and en_before > 1
    )
    return (
        snapshot_read(spark, root)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_total"),
        )
        .select("lang", "n_docs", "chars_total", F.lit(scoped).alias("scoped_rewrite"))
        .orderBy("lang")
    )


register(
    "snapshot_compact_partition",
    """
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total,
           1 AS scoped_rewrite
    FROM documents
    WHERE n_chars <= 1500
    GROUP BY lang
    ORDER BY lang
    """,
)(snapshot_compact_partition_query)


# ---------------------------------------------------------------------------
# Metadata-only SUM pushdown (round 10, fast_agg.py + sum_cols config):
# per-commit integral column sums stamped at publish answer SUM() from the
# root alone — exact, order-independent integer addition, sticky config
# across later commits — and an identity-partitioned table answers the
# filtered SUM from the matching files' sidecar sums. Both phases refuse
# the scan path outright; the oracle recomputes over the parquet.
# ---------------------------------------------------------------------------


def snapshot_fast_sum_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airflow_postgres_csv_spark.operators.fast_agg import (
        snapshot_fast_agg,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    root = _temp_root()
    snapshot_commit(
        events.where(F.pmod("event_id", F.lit(2)) == 0).coalesce(1),
        root, sum_cols=["cents"],
    )
    snapshot_commit(  # config is sticky: no sum_cols repeated
        events.where(F.pmod("event_id", F.lit(2)) == 1).coalesce(1), root
    )
    total = snapshot_fast_agg(
        root, sums=["cents"], spark=None, allow_scan=False
    )
    proot = _temp_root()
    snapshot_commit(
        events, proot,
        partition_transforms=[("event_type", "identity")],
        sum_cols=["cents"],
    )
    clicks = snapshot_fast_agg(
        proot, sums=["cents"], where={"event_type": "click"},
        spark=None, allow_scan=False,
    )
    return arrow_local_df(spark, 
        [
            (
                total["n_rows"],
                total["sums"]["cents"]["value"],
                int(total["sums"]["cents"]["source"] == "root"),
                clicks["n_rows"],
                clicks["sums"]["cents"]["value"],
            )
        ],
        schema=(
            "n_rows bigint, cents_total bigint, root_only int, "
            "n_clicks bigint, click_cents bigint"
        ),
    )


register(
    "snapshot_fast_sum",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents_total,
           1 AS root_only,
           CAST((SELECT COUNT(*) FROM events WHERE event_type = 'click')
                AS BIGINT) AS n_clicks,
           CAST((SELECT SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                 FROM events WHERE event_type = 'click') AS BIGINT)
                AS click_cents
    FROM events
    """,
)(snapshot_fast_sum_query)


# ---------------------------------------------------------------------------
# Metadata-only GROUP BY (round 11, fast_agg.py group_by=): Iceberg's
# partitions-metadata rollup as an aggregate — per-group COUNT(*)/SUM over
# an identity-partitioned column from the commit sidecars' row/sum maps,
# zero data I/O. allow_scan=False inside the query makes the zero-scan
# claim part of the oracle gate itself: if the rollup ever needed data,
# the query would raise instead of matching.
# ---------------------------------------------------------------------------


def snapshot_partition_rollup_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from airflow_postgres_csv_spark.operators.fast_agg import (
        snapshot_fast_agg,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    root = _temp_root()
    snapshot_commit(
        docs.where(F.pmod("doc_id", F.lit(2)) == 0),
        root,
        partition_transforms=[("lang", "identity")],
        sum_cols=["n_chars"],
    )
    snapshot_commit(  # spec + sum config sticky across commits
        docs.where(F.pmod("doc_id", F.lit(2)) == 1), root
    )
    res = snapshot_fast_agg(
        root, ["n_chars"], group_by="lang", sums=["n_chars"], spark=None,
        allow_scan=False,
    )
    rows = [
        (
            g["key"],
            g["n_rows"],
            g["sums"]["n_chars"]["value"],
            g["sums"]["n_chars"]["n_nonnull"],
            g["columns"]["n_chars"]["min"],
            g["columns"]["n_chars"]["max"],
        )
        for g in res["groups"]
    ]
    return arrow_local_df(spark, 
        rows,
        "lang string, n_docs bigint, chars_total bigint, "
        "n_chars_nn bigint, chars_min bigint, chars_max bigint",
    ).orderBy("lang")


register(
    "snapshot_partition_rollup",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total,
           CAST(COUNT(n_chars) AS BIGINT) AS n_chars_nn,
           MIN(n_chars) AS chars_min,
           MAX(n_chars) AS chars_max
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)(snapshot_partition_rollup_query)


def snapshot_partition_rollup_where_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round-11 extension of the metadata GROUP BY: COMPOSITE group keys
    over two identity columns PLUS an equality ``where`` over one of
    them restricting a second call — both answered from commit sidecars
    with zero data I/O (``allow_scan=False`` makes the zero-scan claim
    part of the correctness gate; commits the root partition summary
    excludes are pruned before their sidecar opens)."""
    from airflow_postgres_csv_spark.operators.fast_agg import (
        snapshot_fast_agg,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    root = _temp_root()
    snapshot_commit(
        docs.where(F.pmod("doc_id", F.lit(2)) == 0),
        root,
        partition_transforms=[("lang", "identity"), ("source", "identity")],
        sum_cols=["n_chars"],
    )
    snapshot_commit(docs.where(F.pmod("doc_id", F.lit(2)) == 1), root)
    multi = snapshot_fast_agg(
        root, group_by=["lang", "source"], sums=["n_chars"], spark=None,
        allow_scan=False,
    )
    filtered = snapshot_fast_agg(
        root, group_by="source", sums=["n_chars"], where={"lang": "en"},
        spark=None, allow_scan=False,
    )
    en_totals = {
        g["key"]: (g["n_rows"], g["sums"]["n_chars"]["value"])
        for g in filtered["groups"]
    }
    rows = []
    for g in multi["groups"]:
        lang, source = g["key"]
        fn, ft = en_totals.get(source, (0, 0)) if lang == "en" else (0, 0)
        rows.append(
            (
                lang,
                source,
                g["n_rows"],
                g["sums"]["n_chars"]["value"],
                # cross-check column: the where= path must agree with the
                # multi-key path on every en group (pinned by the oracle)
                int(lang != "en" or (fn == g["n_rows"] and ft == g["sums"]["n_chars"]["value"])),
            )
        )
    return arrow_local_df(spark, 
        rows,
        "lang string, source string, n_docs bigint, chars_total bigint, "
        "paths_agree int",
    ).orderBy("lang", "source")


register(
    "snapshot_partition_rollup_where",
    """
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total,
           1 AS paths_agree
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)(snapshot_partition_rollup_where_query)


# ---------------------------------------------------------------------------
# Declared sort orders (round 11, snapshot_commit(sort_order=)): Iceberg's
# write-order as sticky table metadata — every commit lands range-clustered
# on the key, so a range probe prunes MOST files from the zone maps alone.
# The pruning payoff is part of the oracle gate: the query emits
# pruned_half = 1 only when the planner skipped at least half the files
# (and the oracle pins the literal 1), so a layout regression fails
# correctness, not just a benchmark.
# ---------------------------------------------------------------------------


def snapshot_sort_order_pruned_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_scan,
        snapshot_scan_files,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    root = _temp_root()
    # AQE would coalesce the tiny test-scale range shuffle into one file
    # and hide the layout; at 100 TB the range write produces thousands
    # of files and the same probe skips the same fraction
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        snapshot_commit(
            events.where(F.pmod("event_id", F.lit(2)) == 0),
            root, sort_order=["cents"],
        )
        snapshot_commit(  # the declared order is sticky
            events.where(F.pmod("event_id", F.lit(2)) == 1), root
        )
    finally:
        spark.conf.set(coalesce_key, prev)
    plan = snapshot_scan_files(root, "cents", 10_000, 19_999)
    pruned_half = int(
        plan["skipped"] >= (plan["kept"] + plan["skipped"]) / 2
    )
    probe = snapshot_scan(spark, root, "cents", 10_000, 19_999)
    return probe.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("cents_total"),
        F.min("cents").alias("cents_min"),
        F.max("cents").alias("cents_max"),
        F.lit(pruned_half).alias("pruned_half"),
    )


register(
    "snapshot_sort_order_pruned",
    """
    WITH cents_rows AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS cents_total,
           MIN(cents) AS cents_min,
           MAX(cents) AS cents_max,
           1 AS pruned_half
    FROM cents_rows
    WHERE cents BETWEEN 10000 AND 19999
    """,
)(snapshot_sort_order_pruned_query)


# ---------------------------------------------------------------------------
# Mviews on catalog branches (round 11): a materialized-view refresh staged
# ON a catalog branch publishes in the SAME atomic flip as the table pins —
# all-or-nothing visibility of (table write + consistent mview), with the
# staleness re-check at publish and pin translation from branch-table
# coordinates to the published main pins. The atomic_pin column is computed
# in-query: 1 only if the pre-publish catalog version still served the
# fork-time rollup while the post-publish head serves the full one — the
# oracle pins the literal, so a visibility leak fails correctness.
# ---------------------------------------------------------------------------


def snapshot_catalog_branch_mview_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from airflow_postgres_csv_spark.operators.catalog_txn import (
        catalog_branch,
        catalog_branch_write,
        catalog_ddl,
        catalog_publish_branch,
        catalog_read,
        catalog_refresh_mview,
        catalog_txn,
        catalog_versions,
    )

    cat, eroot, mroot = _temp_root(), _temp_root(), _temp_root()
    events = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    half1 = events.where(F.pmod("event_id", F.lit(2)) == 0)
    half2 = events.where(F.pmod("event_id", F.lit(2)) == 1)
    catalog_txn(cat, [{"name": "gold.events", "root": eroot, "df": half1}])
    catalog_ddl(
        cat,
        [{
            "op": "create_mview", "name": "gold.by_type", "root": mroot,
            "sql": (
                "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
                "CAST(SUM(cents) AS BIGINT) AS cents_total "
                "FROM e GROUP BY event_type"
            ),
            "tables": {"e": "gold.events"},
        }],
    )
    catalog_refresh_mview(spark, cat, "gold.by_type")
    fork_rows = {
        r.event_type: (r.n, r.cents_total)
        for r in catalog_read(spark, cat, "gold.by_type").collect()
    }
    broot = catalog_branch(cat, "exp")
    catalog_branch_write(
        spark, cat, "exp", [{"name": "gold.events", "df": half2}]
    )
    catalog_refresh_mview(spark, broot, "gold.by_type")
    pre_publish_v = catalog_versions(cat)[-1]
    catalog_publish_branch(cat, "exp")
    # atomicity: the pre-publish catalog version still serves the
    # fork-time materialization; the head serves the full one
    old_rows = {
        r.event_type: (r.n, r.cents_total)
        for r in catalog_read(
            spark, cat, "gold.by_type", catalog_version=pre_publish_v
        ).collect()
    }
    atomic_pin = int(old_rows == fork_rows)
    return (
        catalog_read(spark, cat, "gold.by_type")
        .select(
            "event_type", "n", "cents_total",
            F.lit(atomic_pin).alias("atomic_pin"),
        )
        .orderBy("event_type")
    )


register(
    "snapshot_catalog_branch_mview",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents_total,
           1 AS atomic_pin
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)(snapshot_catalog_branch_mview_query)
