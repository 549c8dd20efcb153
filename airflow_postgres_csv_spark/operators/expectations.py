"""Data-quality expectations on snapshot writes (DLT-style constraints).

``snapshot_write_with_expectations`` gates a batch behind declared
expectations before it reaches a versioned snapshot table
(operators/snapshots.py) — the write-side quality contract of a curation
pipeline, complementing write-audit-publish (which gates on *aggregate*
audits after staging; expectations gate *per row* before commit):

- ``warn``       — violating rows are still written; the violation count
                   is reported (drift monitoring).
- ``drop``       — violating rows are silently removed from the batch.
- ``quarantine`` — violating rows are committed to a SEPARATE snapshot
                   table together with the list of failed expectation
                   names, preserving them for triage/replay instead of
                   destroying them.

Precedence when a row violates several rules: ``drop`` beats
``quarantine`` (a dropped row is never quarantined); ``warn`` never
affects routing. All rules are evaluated in ONE projection — each is a
boolean SQL expression compiled by Catalyst, so the gate adds no shuffle
and no Python to the write path. Violation counts for the main write ride
on ``df.observe`` (collected during the write job itself, no extra scan);
the quarantine write is its own commit. At 100 TB the input is read once
per destination table with the routing filter pushed into the scan —
callers that can afford it persist the flagged frame first.

No reference analog (the reference is an Airflow ETL shim,
/root/reference/src/airflow_postgres_csv/operators.py) — extension
surface; semantics follow Delta Live Tables EXPECT / EXPECT OR DROP /
quarantine-table patterns from public docs.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

__all__ = [
    "Expectation",
    "catalog_write_with_expectations",
    "snapshot_write_with_expectations",
]

_ACTIONS = ("warn", "drop", "quarantine")


@dataclass(frozen=True)
class Expectation:
    name: str
    predicate: str  # SQL boolean expression; a row VIOLATES when not true
    action: str = "warn"

    def __post_init__(self):
        if self.action not in _ACTIONS:
            raise ValueError(
                f"expectation {self.name!r}: action must be one of {_ACTIONS}, "
                f"got {self.action!r}"
            )


def _routed_frames(df, expectations, quar_rules):
    """Compile the expectation battery into ONE Catalyst projection and
    split ``df`` into (valid, quarantined-or-None) frames, with violation
    counts riding an ``Observation`` on whichever write job runs first.
    Pure routing — no commits; shared by the per-table and the
    catalog-atomic write paths."""
    tag = uuid.uuid4().hex[:8]
    viol = {e.name: f"_viol_{tag}_{i}" for i, e in enumerate(expectations)}
    flagged = df
    for e in expectations:
        # NOT coalesce(pred, false): NULL predicate == violation
        flagged = flagged.withColumn(
            viol[e.name],
            ~F.coalesce(F.expr(e.predicate), F.lit(False)),
        )
    dropped_flag = F.lit(False)
    for e in expectations:
        if e.action == "drop":
            dropped_flag = dropped_flag | F.col(viol[e.name])
    quar_flag = F.lit(False)
    for e in quar_rules:
        quar_flag = quar_flag | F.col(viol[e.name])

    obs = Observation(f"expectations_{tag}")
    aggs = [
        F.count(F.lit(1)).alias("n_input"),
        F.sum(dropped_flag.cast("long")).alias("n_dropped"),
        F.sum((~dropped_flag & quar_flag).cast("long")).alias("n_quarantined"),
    ] + [
        F.sum(F.col(viol[e.name]).cast("long")).alias(viol[e.name])
        for e in expectations
    ]
    flagged = flagged.observe(obs, *aggs)

    data_cols = [c for c in df.columns]
    valid = flagged.filter(~dropped_flag & ~quar_flag).select(*data_cols)
    quarantined = None
    if quar_rules:
        failed_names = F.array_join(
            F.array_sort(
                F.filter(
                    F.array(
                        *[
                            F.when(F.col(viol[e.name]), F.lit(e.name))
                            for e in quar_rules
                        ]
                    ),
                    lambda x: x.isNotNull(),
                )
            ),
            ",",
        )
        quarantined = (
            flagged.filter(~dropped_flag & quar_flag)
            .select(*data_cols, failed_names.alias("_failed_expectations"))
        )
    return valid, quarantined, obs, viol


def snapshot_write_with_expectations(
    df: DataFrame,
    root: str,
    expectations: list[Expectation],
    quarantine_root: str | None = None,
    mode: str = "append",
    batch_id: int | None = None,
    retries: int = 0,
    **commit_kwargs,
) -> dict:
    """Route ``df`` through ``expectations`` into the snapshot table at
    ``root`` (+ optional quarantine table), returning metrics::

        {"n_input": ..., "n_written": ..., "n_dropped": ..., "n_quarantined": ...,
         "violations": {rule_name: count}, "manifest": ..., "quarantine_manifest": ...,
         "committed_main": ..., "committed_quarantine": ...}

    A NULL predicate result counts as a violation (SQL three-valued logic
    would otherwise let NULLs slip through a quality gate). Quarantined
    rows carry a ``_failed_expectations`` column — the comma-joined sorted
    names of the quarantine rules they violated. Raises if a
    ``quarantine`` rule is declared without ``quarantine_root``.

    ``batch_id`` (streaming foreachBatch): exactly-once across replays.
    The two destinations are gated INDEPENDENTLY, each by its own
    ``last_batch_id`` high-water mark, with the stamp inside the commit's
    single atomic publish — a crash between the main and quarantine
    commits replays the batch, the already-stamped main table skips, the
    quarantine table commits, and each table ends up holding the batch
    exactly once (appends are not idempotent, so per-table gating is what
    makes the two-commit batch replay-safe; same discipline as
    ``sinks.apply_changes_batch``). A replay where both tables are
    already stamped returns immediately with both ``committed_*`` False.
    ``retries`` = optimistic append rebase vs concurrent maintenance
    commits, passed through to ``snapshot_commit``.
    """
    from airflow_postgres_csv_spark.operators import snapshots as S
    from airflow_postgres_csv_spark.operators.snapshots import snapshot_commit

    names = [e.name for e in expectations]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate expectation names: {names}")
    quar_rules = [e for e in expectations if e.action == "quarantine"]
    if quar_rules and quarantine_root is None:
        raise ValueError(
            "quarantine expectations declared but no quarantine_root given: "
            + ", ".join(e.name for e in quar_rules)
        )

    main_pending = True
    quar_pending = bool(quar_rules)
    if batch_id is not None:
        main_pending = not S._batch_replayed(root, batch_id)
        if quar_rules:
            quar_pending = not S._batch_replayed(quarantine_root, batch_id)
        if not main_pending and not quar_pending:
            return {
                "n_input": None, "n_written": None, "n_quarantined": None,
                "n_dropped": None, "violations": None, "manifest": None,
                "quarantine_manifest": None,
                "committed_main": False, "committed_quarantine": False,
            }
        commit_kwargs = dict(commit_kwargs)
        commit_kwargs["extra"] = {
            **commit_kwargs.get("extra", {}),
            "last_batch_id": batch_id,
        }

    valid, quarantined, obs, viol = _routed_frames(df, expectations, quar_rules)

    manifest = None
    if main_pending:
        manifest = snapshot_commit(
            valid, root, mode=mode, retries=retries, **commit_kwargs
        )
    quarantine_manifest = None
    if quar_pending:
        quarantine_manifest = snapshot_commit(
            quarantined, quarantine_root, mode=mode, retries=retries,
            extra=commit_kwargs.get("extra"),
        )
    got = obs.get  # populated by whichever destination's write job ran
    n_input = int(got["n_input"])
    n_dropped = int(got["n_dropped"] or 0)
    n_quarantined = int(got["n_quarantined"] or 0)
    violations = {e.name: int(got[viol[e.name]] or 0) for e in expectations}

    return {
        "n_input": n_input,
        "n_written": n_input - n_dropped - n_quarantined,
        "n_quarantined": n_quarantined,
        "n_dropped": n_dropped,
        "violations": violations,
        "manifest": manifest,
        "quarantine_manifest": quarantine_manifest,
        "committed_main": main_pending,
        "committed_quarantine": quar_pending,
    }


def catalog_write_with_expectations(
    df: DataFrame,
    catalog_root: str,
    main: tuple[str, str],
    expectations: list[Expectation],
    quarantine: tuple[str, str] | None = None,
    mode: str = "append",
    batch_id: int | None = None,
    retries: int = 0,
    **commit_kwargs,
) -> dict:
    """The ATOMIC two-table variant of ``snapshot_write_with_expectations``:
    main and quarantine tables publish to catalog readers in ONE catalog
    flip (operators/catalog_txn.py), so no reader ever observes a batch's
    clean half without its quarantined half — the property the
    independently-gated per-table sink cannot give.

    Exactly-once is gated by a SINGLE catalog-level ``last_batch_id``
    high-water stamp (newest carrier wins, interleaved transactions
    can't reopen it). Crash recovery: table commits carry the batch
    stamp and are conditioned on the CATALOG-pinned head
    (``expected_head``) —

    - crash before any table commit: replay reruns everything;
    - crash between a table commit and the flip: the replay finds that
      table's head stamped with THIS batch id and ADOPTS it (pins the
      orphan instead of recommitting — appends are not idempotent), any
      unstamped destination commits normally, then one flip publishes;
    - a head that moved WITHOUT this batch's stamp is an out-of-band
      writer (or un-cataloged maintenance): surfaced as
      ``SnapshotConflictError`` — catalog-managed tables must be
      maintained through the catalog.

    Returns the metrics dict of the per-table variant plus
    ``catalog_manifest``; a fully-applied replay returns immediately with
    ``committed_main=committed_quarantine=False``.
    """
    from airflow_postgres_csv_spark.operators import catalog_txn as C
    from airflow_postgres_csv_spark.operators import snapshots as S
    from airflow_postgres_csv_spark.operators.snapshots import (
        SnapshotConflictError,
        snapshot_commit,
    )

    names = [e.name for e in expectations]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate expectation names: {names}")
    quar_rules = [e for e in expectations if e.action == "quarantine"]
    if quar_rules and quarantine is None:
        raise ValueError(
            "quarantine expectations declared but no quarantine table given: "
            + ", ".join(e.name for e in quar_rules)
        )
    skipped = {
        "n_input": None, "n_written": None, "n_quarantined": None,
        "n_dropped": None, "violations": None, "manifest": None,
        "quarantine_manifest": None, "catalog_manifest": None,
        "committed_main": False, "committed_quarantine": False,
    }
    if batch_id is not None and batch_id <= C.catalog_max_stamp(
        catalog_root, "last_batch_id", -1
    ):
        return skipped

    valid, quarantined, obs, viol = _routed_frames(df, expectations, quar_rules)
    dests = [(main[0], main[1], valid)]
    if quar_rules:
        dests.append((quarantine[0], quarantine[1], quarantined))

    state = C.catalog_state(catalog_root)
    # txn_batch_id is deliberately NOT carried (snapshots._KEYS declares
    # it per-commit), so it identifies the exact commit this batch published:
    # an out-of-band append stacked on top of a stamped commit inherits
    # last_batch_id but NOT txn_batch_id, and the adoption probe below
    # correctly raises SnapshotConflictError for it instead of silently
    # adopting and pinning the stranger's head.
    table_extra = (
        {"last_batch_id": batch_id, "txn_batch_id": batch_id}
        if batch_id is not None
        else None
    )
    pins: dict[str, tuple[str, int]] = {}
    manifests: dict[str, dict | None] = {}
    committed: dict[str, bool] = {}
    for name, root, frame in dests:
        pin = state.get(name, {}).get("version", 0)
        versions = S.snapshot_versions(root)
        head = versions[-1] if versions else 0
        if head != pin:
            head_m = S._load_manifest(root, head)
            if batch_id is not None and head_m.get("txn_batch_id") == batch_id:
                # the crash-orphaned half of THIS batch (txn_batch_id is
                # per-commit, never inherited): adopt, don't recommit
                pins[name] = (root, head)
                manifests[name] = head_m
                committed[name] = False
                continue
            raise SnapshotConflictError(
                f"table {name!r} head v{head} is not the catalog pin v{pin} "
                "and does not carry this batch's stamp — out-of-band write"
            )
        kw = dict(commit_kwargs)
        if table_extra:
            kw["extra"] = {**kw.get("extra", {}), **table_extra}
        m = snapshot_commit(frame, root, mode=mode, expected_head=pin, **kw)
        pins[name] = (root, m["version"])
        manifests[name] = m
        committed[name] = True

    catalog_manifest = C.catalog_pin_tables(
        catalog_root,
        pins,
        retries=retries,
        note=f"expectations batch {batch_id}" if batch_id is not None else "",
        extra=table_extra,
    )
    if not any(committed.values()):
        # both halves adopted: no write job ran, so no observed metrics
        return {**skipped, "catalog_manifest": catalog_manifest}
    got = obs.get
    n_input = int(got["n_input"])
    n_dropped = int(got["n_dropped"] or 0)
    n_quarantined = int(got["n_quarantined"] or 0)
    return {
        "n_input": n_input,
        "n_written": n_input - n_dropped - n_quarantined,
        "n_quarantined": n_quarantined,
        "n_dropped": n_dropped,
        "violations": {e.name: int(got[viol[e.name]] or 0) for e in expectations},
        "manifest": manifests[main[0]],
        "quarantine_manifest": manifests.get(quarantine[0]) if quarantine else None,
        "catalog_manifest": catalog_manifest,
        "committed_main": committed[main[0]],
        "committed_quarantine": committed.get(quarantine[0], False) if quarantine else False,
    }
