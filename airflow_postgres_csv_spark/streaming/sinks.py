"""Streaming sinks with exactly-once recovery semantics.

The file sink + checkpoint pair is the durable end of a production
pipeline: offsets and sink metadata commit through the checkpoint's
write-ahead log, so a crashed/restarted query resumes from the last
committed micro-batch without dropping or duplicating rows. (The memory
sink in ``windows.run_to_memory_sink`` is the test harness; this is the
real thing.)

Every other sink is ONE entry point plus a named batch body::

    start_batch_sink(stream, lambda df, bid: snapshot_batch_commit(df, bid, root), ckpt)

``start_batch_sink`` is ``foreachBatch`` + checkpoint; the body makes the
destination drop replayed micro-batches (the checkpoint replays any batch
it had not marked committed when the query crashed). Snapshot-table bodies
gate on the destination's ``last_batch_id`` high-water stamp
(``snapshots._batch_replayed``) and write the stamp inside the same atomic
publish as the data; ``jdbc_upsert_batch`` is idempotent by key instead.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

__all__ = [
    "start_parquet_sink",
    "start_batch_sink",
    "jdbc_upsert_batch",
    "snapshot_batch_commit",
    "apply_changes_batch",
    "merge_into_batch",
    "text_index_batch",
    "ann_index_batch",
    "dedup_ingest_batch",
    "wap_batch",
    "classifier_scoring_batch",
    "ivm_batch",
    "join_ivm_batch",
]

# Optimistic-concurrency retries of a batch's append or publish: a
# concurrent MAINTENANCE commit (compact, batch ETL append) winning the
# version race must not fail the micro-batch — appends rebase in
# O(manifest) with the batch-id stamp still inside the one atomic publish.
_RETRIES = 2


def start_parquet_sink(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """Write a streaming DataFrame to a parquet directory, exactly-once.

    The checkpoint directory carries the offset log + sink commit log;
    restarting with the same ``checkpoint_dir`` resumes after the last
    committed batch (reprocessing nothing), and readers of ``out_dir``
    see only committed files via the sink's ``_spark_metadata`` log.
    """
    return (
        stream_df.writeStream.outputMode(output_mode)
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def start_batch_sink(
    stream_df: DataFrame,
    body: Callable[[DataFrame, int], object],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Run ``body(batch_df, batch_id)`` on every micro-batch of
    ``stream_df`` (``foreachBatch``, append mode), checkpointed at
    ``checkpoint_dir``. Restarting with the same checkpoint resumes after
    the last committed batch and may replay the one in flight at a crash;
    the body's replay gate (or keyed idempotence) turns that
    at-least-once delivery into exactly-once. The body's return value is
    ignored."""
    return (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(body)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def jdbc_upsert_batch(
    batch_df: DataFrame,
    url: str,
    table: str,
    key_cols: list[str],
    driver: str = "org.postgresql.Driver",
) -> None:
    """Upsert one (micro-)batch into a JDBC table, idempotently — the
    body of a keyed JDBC stream (Spark's built-in jdbc sink is
    append-only; real pipelines need merge-by-key).

    Shape: Spark writes the batch into a staging table in parallel
    (truncate-overwrite), then ONE ``MERGE INTO target USING staging ON
    keys`` statement runs on a single connection — matched rows update,
    new rows insert. Because MERGE is keyed, replaying a micro-batch after
    a crash converges to the same table state: at-least-once delivery from
    the checkpoint + an idempotent sink = effective exactly-once.

    The merge statement executes driver-side over ``java.sql`` (py4j);
    the data volume flows through the parallel staging write — the single
    connection carries only the one DDL/DML statement, not rows.
    """
    from airflow_postgres_csv_spark.operators.jdbc import jdbc_write, quote_identifier

    spark = batch_df.sparkSession
    staging = table + "_stg"
    jdbc_write(batch_df, url=url, table=staging, truncate=True, driver=driver)

    q = quote_identifier
    cols = batch_df.columns
    non_keys = [c for c in cols if c not in key_cols]
    on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in key_cols)
    set_clause = ", ".join(f"{q(c)} = s.{q(c)}" for c in non_keys)
    insert_cols = ", ".join(q(c) for c in cols)
    insert_vals = ", ".join(f"s.{q(c)}" for c in cols)
    merge = (
        f"MERGE INTO {q(table)} t USING {q(staging)} s ON {on} "
        + (f"WHEN MATCHED THEN UPDATE SET {set_clause} " if non_keys else "")
        + f"WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
    )

    jvm = spark._jvm
    jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        try:  # create the target from the staging shape on first contact
            st.execute(f"CREATE TABLE {q(table)} AS SELECT * FROM {q(staging)} WITH NO DATA")
        except Exception:
            pass  # already exists
        st.execute(merge)
    finally:
        conn.close()


def snapshot_batch_commit(batch_df: DataFrame, batch_id: int, root: str) -> bool:
    """foreachBatch body: commit one micro-batch as a snapshot version,
    exactly once — the bronze-layer ingestion pattern (downstream
    consumers use ``snapshot_changes`` to process exactly the newly
    ingested files).

    Structured Streaming may REPLAY a micro-batch after a crash between the
    sink action and the checkpoint commit; idempotence must come from the
    sink. The batch id is threaded into the manifest dict BEFORE the
    commit's single atomic publish (``snapshot_commit(extra=...)``), so
    there is exactly one commit point: a crash either published the batch
    (with its id recorded) or left the dataset untouched — never a
    committed batch without its stamp. A batch whose id is not above the
    recorded high-water mark is dropped, so replays become no-ops and the
    snapshot history holds each batch exactly once. (Same keyed-dedup
    discipline as the JDBC MERGE sink, expressed in dataset versions.)

    The high-water mark survives interleaved maintenance commits
    (``snapshot_compact``, a batch ETL append), which carry the stamp
    forward, and a concurrent one winning the version race rebases the
    append (``_RETRIES``). Returns True when a version was committed,
    False on replay-skip.
    """
    from airflow_postgres_csv_spark.operators import snapshots as S

    if S._batch_replayed(root, batch_id):
        return False
    S.snapshot_commit(
        batch_df, root, extra={"last_batch_id": batch_id}, retries=_RETRIES
    )
    return True


def apply_changes_batch(
    batch_df: DataFrame, batch_id: int, dst_root: str, key_col: str
) -> bool:
    """foreachBatch body for a CHANGE DATA FEED stream (the snapshot
    source's ``changeFeed=true``): apply one micro-batch of
    ``_change_type`` insert/delete rows to a keyed downstream snapshot
    table, exactly once — streaming APPLY CHANGES INTO, so the
    downstream table mirrors the source's LIVE state across restarts.

    Net effect per key: a micro-batch may carry several changes for one
    key (insert v1, delete v3, re-insert v5); only the change with the
    highest ``_commit_version`` matters. One window pass keeps it: keys
    whose latest change is an insert become a COW merge upsert, keys whose
    latest change is a delete become an O(keys) equality tombstone commit.

    Exactly-once across replays: the batch id is stamped (``extra=``,
    inside the atomic publish) only on the batch's FINAL commit; both
    operations are idempotent (upsert replaces by key, tombstone deletes
    by key), so a crash between the merge and the tombstone replays the
    whole batch and converges — the same discipline as
    ``snapshot_batch_commit``, extended to a two-commit batch. Returns
    True when the batch applied, False on replay-skip.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from airflow_postgres_csv_spark.operators import snapshots as S
    from airflow_postgres_csv_spark.streaming.snapshot_source import (
        CHANGE_COL,
        VERSION_COL,
    )

    stamp = {"last_batch_id": batch_id}
    versions = S.snapshot_versions(dst_root)
    if S._batch_replayed(dst_root, batch_id):
        return False
    data_cols = [
        c for c in batch_df.columns if c not in (VERSION_COL, CHANGE_COL)
    ]
    # Latest change per key wins. A MERGE commit emits delete (pre-image)
    # AND insert (post-image) for one key at ONE version — the insert is
    # the net effect, so it breaks the tie ('insert' > 'delete' desc).
    latest = (
        batch_df.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(key_col).orderBy(
                    F.col(VERSION_COL).desc(), F.col(CHANGE_COL).desc()
                )
            ),
        )
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    upserts = latest.where(F.col(CHANGE_COL) == "insert").select(*data_cols)
    deletes = latest.where(F.col(CHANGE_COL) == "delete").select(key_col).distinct()
    # emptiness probes only — the key/row sets themselves stay distributed
    has_up = bool(upserts.take(1))
    has_del = bool(deletes.take(1))
    if not has_up and not has_del:
        return False
    if not versions and not has_up:
        # deletes against a mirror that has no rows yet: nothing to do,
        # and a replay re-derives the same no-op
        return False
    spark = batch_df.sparkSession
    if has_up:
        if not versions:
            S.snapshot_commit(
                upserts, dst_root,
                extra=None if has_del else stamp,
            )
        else:
            S.snapshot_merge(
                spark, dst_root, upserts, key_col,
                extra=None if has_del else stamp,
            )
    if has_del:
        S._publish_key_tombstone(
            dst_root, deletes, key_col,
            predicate=f"cdf-apply batch {batch_id}", extra=stamp,
        )
    return True


def merge_into_batch(
    batch_df: DataFrame,
    batch_id: int,
    root: str,
    key: str,
    **clauses,
) -> bool:
    """foreachBatch body: one micro-batch as the SOURCE of a full MERGE
    INTO against a keyed snapshot table, exactly once — Delta's
    streaming-upsert-with-clauses pattern, the silver-layer upsert: running
    per-key state maintained by UPDATE SET expressions over (t, s),
    conditional deletes, and insert-on-first-sight.

    MERGE requires a source unique per key, and a raw event stream rarely
    is: the caller passes the per-batch pre-aggregation as the batch
    (``lambda df, bid: merge_into_batch(prepare(df), bid, ...)`` — a lazy
    transformation, so the gate below still runs before any work).
    ``clauses`` pass through to :func:`snapshot_merge_into`
    (``matched_update``, ``matched_delete_condition``,
    ``not_matched_condition``, ...). The batch id stamps the merge's single
    atomic publish (the no-op path included), so a replayed micro-batch is
    dropped by the high-water gate before any work — the same discipline
    as ``snapshot_batch_commit``, with MERGE's one-commit-point guarantee
    doing the rest. A first batch against an EMPTY root falls back to a
    plain commit of the source — MERGE needs a table, and the insert clause
    semantics of an empty target are exactly an append. Returns True when
    the batch applied, False on replay-skip.
    """
    from airflow_postgres_csv_spark.operators import snapshots as S

    if S._batch_replayed(root, batch_id):
        return False
    stamp = {"last_batch_id": batch_id}
    if not S.snapshot_versions(root):
        insert_ok = clauses.get("insert_when_not_matched", True)
        cond = clauses.get("not_matched_condition")
        if insert_ok:
            from pyspark.sql import functions as F

            first = batch_df if cond is None else batch_df.alias("s").where(
                F.coalesce(F.expr(cond), F.lit(False))
            )
        else:
            first = batch_df.limit(0)
        S.snapshot_commit(first, root, extra=stamp)
        return True
    S.snapshot_merge_into(
        batch_df.sparkSession, root, batch_df, key=key, extra=stamp, **clauses
    )
    return True


def text_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    positions: bool = False,
) -> bool:
    """foreachBatch body: keep a persisted BM25 index
    (operators/text_index.py) fresh from a live document stream, exactly
    once — the live-corpus search pattern: searches between batches see a
    consistent pinned index version. First committed batch BUILDS the
    index (recording ``positions``); every later batch runs
    ``text_index_append`` — the O(batch) incremental path whose exact
    integer stats make live search scores bit-identical to a from-scratch
    rebuild over the same prefix. The micro-batch id stamps the SAME
    atomic manifest publish as the postings + stats, so a crash-replayed
    batch is dropped by the high-water gate before any tokenization — the
    index can never double-count a document's stats. Returns True when
    the batch applied, False on replay-skip."""
    from airflow_postgres_csv_spark.operators import snapshots as S
    from airflow_postgres_csv_spark.operators import text_index as TI

    if S._batch_replayed(index_root, batch_id):
        return False
    stamp = {"last_batch_id": batch_id}
    if not S.snapshot_versions(index_root):
        TI.text_index_build(
            batch_df, index_root, id_col=id_col, text_col=text_col,
            positions=positions, extra=stamp,
        )
    else:
        TI.text_index_append(
            batch_df, index_root, id_col=id_col, text_col=text_col, extra=stamp
        )
    return True


def ann_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> bool:
    """foreachBatch body: keep a persisted ANN index of any shape — IVF,
    PQ or IVF-PQ (operators/similarity.py) — fresh from a live embedding
    stream, exactly once; searches between batches see old + new vectors
    through the same ``ivfpq_search_index`` serve path. The index must be
    BUILT beforehand (build-once / serve-many — training a quantizer
    inside a sink would put a clustering job on the ingest path); each
    batch codes its vectors with the FROZEN models
    (``ivfpq_index_append``) and appends one generation-pinned commit with
    the batch id stamped inside the same atomic publish. Replays are
    dropped by the high-water gate; a concurrent index rebuild conflicts
    (``expected_head``) instead of mixing generations."""
    from airflow_postgres_csv_spark.operators import snapshots as S
    from airflow_postgres_csv_spark.operators.similarity import ivfpq_index_append

    if S._batch_replayed(index_root, batch_id):
        return False
    ivfpq_index_append(
        batch_df, index_root, id_col=id_col, vec_col=vec_col,
        extra={"last_batch_id": batch_id},
    )
    return True


def dedup_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    root: str,
    keys_root: str,
    key=None,
    id_col: str = "doc_id",
) -> bool:
    """foreachBatch body: exact DEDUP-ON-INGEST into a snapshot corpus,
    exactly once — the bronze-layer pattern for a training-data pipeline
    where the same document arrives repeatedly (re-crawls, source
    overlap) and the corpus must hold each content key exactly once,
    first-writer-wins.

    Per micro-batch: (1) within-batch survivors = min ``id_col`` per
    dedup key (one hash-agg — deterministic); (2) cross-corpus rejects =
    key anti-join against the PERSISTED fingerprint table at
    ``keys_root`` (a (key, id) snapshot table — the corpus text is never
    re-read or re-hashed, and the key scan is column-pruned, so the
    reject check is O(batch), not O(corpus)); (3) the survivors append to
    ``root`` and their keys to ``keys_root``, each gated by its OWN
    batch-id high-water stamp inside its atomic publish. Commit order is
    data-then-keys ON PURPOSE: survivors are computed against the keys
    table as of BEFORE this batch, so a crash between the two commits
    replays into whichever table missed it and converges — keys-first
    would make the replay's anti-join reject the batch's own survivors.
    ``key`` defaults to the md5 fingerprint of normalized text (same as
    operators/dedup.py's exact family). Returns True when the batch
    applied to at least one table."""
    from pyspark.sql import functions as F

    from airflow_postgres_csv_spark.functions import texts as X
    from airflow_postgres_csv_spark.operators import snapshots as S

    data_done = S._batch_replayed(root, batch_id)
    keys_done = S._batch_replayed(keys_root, batch_id)
    if data_done and keys_done:
        return False
    k = key if key is not None else X.fingerprint_md5("text")
    keyed = batch_df.select(k.alias("_k"), "*")
    mins = keyed.groupBy("_k").agg(F.min(id_col).alias("_mid"))
    survivors = keyed.join(mins, "_k").where(F.col(id_col) == F.col("_mid"))
    if S.snapshot_versions(keys_root):
        existing = S.snapshot_read(batch_df.sparkSession, keys_root).select("_k")
        survivors = survivors.join(existing, "_k", "left_anti")
    # one computation feeds both commits (localCheckpoint: the second
    # commit must not re-plan the anti-join after the first moved state)
    survivors = survivors.drop("_mid").localCheckpoint(eager=True)
    stamp = {"last_batch_id": batch_id}
    if not data_done:
        S.snapshot_commit(
            survivors.drop("_k"), root, extra=stamp, retries=_RETRIES
        )
    if not keys_done:
        S.snapshot_commit(
            survivors.select("_k", F.col(id_col)), keys_root,
            extra=stamp, retries=_RETRIES,
        )
    return True


def wap_batch(
    batch_df: DataFrame,
    batch_id: int,
    root: str,
    audits: dict,
) -> str:
    """foreachBatch body: write-audit-publish one micro-batch, exactly
    once. The batch stages on an ephemeral branch, aggregate ``audits``
    validate the FULL would-be table state (not just the increment), and
    only a passing batch publishes to main. Returns ``"published"``,
    ``"skipped"`` (replay of an already published batch) or
    ``"quarantined"`` (audit failure — main is untouched, the batch is
    retained on branch ``wap-<batch_id>`` for triage, listed by
    ``snapshot_branches``, and the stream KEEPS RUNNING: a bad batch must
    not take the pipeline down, exactly the expectations-sink contract
    upgraded from per-row rules to aggregate audits).

    Exactly-once: the batch id rides the staging commit's ``extra=`` and
    is carried into main's ONE atomic publish link, so the high-water
    gate (same as ``snapshot_batch_commit``) makes crash replays no-ops.
    A leftover ``wap-<batch_id>`` branch from a crashed attempt is
    dropped and redone — main being unstamped proves it never published.
    Maintenance commits racing the publish are rebased past
    (``rebase=True`` is sound here: the staging branch is append-only by
    construction)."""
    from airflow_postgres_csv_spark.operators import branches as B
    from airflow_postgres_csv_spark.operators import snapshots as S

    if S._batch_replayed(root, batch_id):
        return "skipped"
    name = f"wap-{batch_id}"
    if name in B.snapshot_branches(root):
        B.snapshot_drop_branch(root, name)
    try:
        B.write_audit_publish(
            batch_df.sparkSession, root, batch_df, audits, branch=name,
            rebase=True, publish_retries=_RETRIES,
            extra={"last_batch_id": batch_id},
        )
    except B.AuditError:
        return "quarantined"
    return "published"


def classifier_scoring_batch(
    batch_df: DataFrame,
    batch_id: int,
    root: str,
    model: dict,
    model_version: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    drop_rejected: bool = False,
) -> bool:
    """foreachBatch body of score-on-ingest: score one micro-batch under
    a FROZEN classifier generation and append the documents WITH their
    ``score``/``pred`` columns as one snapshot commit. The caller loads
    the model once, before the stream starts (``load_classifier``), and
    passes it with its snapshot version — the persisted-index discipline
    of the ANN/BM25 bodies: serving never retrains, and a retrain
    publishes a new generation that takes effect when the caller next
    loads it (a sink restart), never mid-stream.

    Exactly-once via the batch-id high-water gate, and the scoring
    model's snapshot version rides the SAME atomic publish
    (``extra={"classifier_model": ...}``) — every committed row is
    auditable to the exact model generation that scored it.
    ``drop_rejected=True`` turns the body into a quality GATE on
    ``pred = 1`` (the scores of kept rows still land, so thresholds can
    be re-tightened downstream)."""
    from pyspark.sql import functions as F

    from airflow_postgres_csv_spark.operators import snapshots as S
    from airflow_postgres_csv_spark.operators.classifier import (
        score_documents,
    )

    if S._batch_replayed(root, batch_id):
        return False
    scored = batch_df.join(
        score_documents(batch_df, model, id_col=id_col, text_col=text_col),
        id_col,
    )
    if drop_rejected:
        scored = scored.where(F.col("pred") == 1)
    S.snapshot_commit(
        scored, root,
        extra={
            "last_batch_id": batch_id,
            "classifier_model": {"version": int(model_version)},
        },
        retries=_RETRIES,
    )
    return True


def ivm_batch(
    batch_df: DataFrame,
    batch_id: int,
    src_root: str,
    dst_root: str,
    group_col: str,
    amount_col: str,
) -> bool:
    """foreachBatch body: ingest one micro-batch into the SOURCE snapshot
    table exactly once (``snapshot_batch_commit``'s batch-id gate), then
    advance the incrementally-maintained per-group (count, sum) rollup to
    the source head (``snapshot_incremental_agg`` — change-feed IVM with
    retractions, high-water-marked on ``ivm_applied_version`` inside its
    ONE atomic commit). Read the rollup with ``snapshot_read(dst_root)``
    filtered to ``n > 0`` (retraction-zeroed groups persist as rows).

    Crash matrix, all exactly-once without idempotence tricks: a replay
    after the source commit skips the ingest (stamp) and re-runs the
    rollup step as a no-op catch-up; a crash BETWEEN the two steps just
    leaves the rollup one version behind — the next batch's step applies
    both deltas, because the IVM reads changes from its own applied mark,
    not from the triggering batch. Out-of-band writers to the source
    (batch ETL appends, MOR deletes) are folded in by the same step."""
    committed = snapshot_batch_commit(batch_df, batch_id, src_root)
    from airflow_postgres_csv_spark.operators import snapshots as S

    S.snapshot_incremental_agg(
        batch_df.sparkSession, src_root, dst_root, group_col, amount_col
    )
    return committed


def join_ivm_batch(
    batch_df: DataFrame,
    batch_id: int,
    a_root: str,
    b_root: str,
    dst_root: str,
    on,
    group_col,
    amount_col: str,
    aggs=("count", "sum"),
) -> bool:
    """foreachBatch body for the JOIN-rollup stream: ingest one
    micro-batch into the FACT snapshot table exactly once
    (``snapshot_batch_commit``'s batch-id gate), then advance the
    incrementally-maintained join rollup over fact ⋈ dimension to both
    tables' heads (``snapshot_incremental_join_agg`` — the signed
    delta-join, high-water-marked on ``ivm_applied_a``/``_b`` inside its
    ONE atomic commit). ``on`` / ``group_col`` / ``aggs`` follow the
    batch operator (the group and amount columns are POST-JOIN names,
    either side); read the rollup with ``snapshot_read(dst_root)``
    filtered to ``n > 0``.

    The crash matrix is ``ivm_batch``'s: a replay after the fact commit
    skips the ingest and re-runs the rollup as a no-op catch-up; a crash
    between the steps leaves the rollup behind by one delta the next
    batch folds in, because the join IVM reads changes from its own
    applied stamps. The DIMENSION side needs no stream at all —
    out-of-band appends and MOR deletes against ``b_root`` (late
    dimension arrivals, GDPR erasures) fold into the live rollup at the
    next batch through the ``A0 ⋈ ΔB`` term."""
    committed = snapshot_batch_commit(batch_df, batch_id, a_root)
    from airflow_postgres_csv_spark.operators import snapshots as S

    S.snapshot_incremental_join_agg(
        batch_df.sparkSession, a_root, b_root, dst_root,
        on, group_col, amount_col, aggs=aggs,
    )
    return committed
