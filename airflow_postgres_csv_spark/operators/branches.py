"""Branches and write-audit-publish (WAP) for versioned snapshot tables.

Iceberg's branch/WAP pattern, re-expressed on the hardlink-clone
primitive (operators/snapshots.py:snapshot_clone): a branch is a clone
that lives INSIDE the table root (``<root>/_branches/<name>``), created
in O(files) metadata operations with zero bytes moved. Every existing
snapshot operator (commit, MERGE INTO, delete, compaction, expectations)
works on the branch root unchanged — the branch is just a root. What the
branch adds over a free-standing clone is the PUBLISH edge back:

- ``snapshot_publish_branch`` fast-forwards main to the branch head in
  one atomic manifest link, after hardlinking the branch's new data /
  delete / sidecar files back into the table root. Publication is
  fast-forward-only: if main advanced past the branch's base version the
  publish refuses (``SnapshotConflictError``) — re-branch and replay
  rather than silently dropping main's commits. The atomic link carries
  first-writer-wins semantics, so two racing publishes cannot both land.
- ``write_audit_publish`` is the one-call WAP gate: stage a commit on an
  ephemeral audit branch, run AGGREGATE audits against the branch head
  (the full would-be table state, not just the increment — the
  complement of the per-row gates in operators/expectations.py), publish
  on pass, and on fail leave main untouched with the quarantined branch
  retained for triage.
- ``snapshot_transaction`` stacks multi-statement ACID on the same edge:
  any sequence of snapshot operations against the yielded branch root
  becomes ONE atomic main version on exit (rollback on exception).
- ``rebase=True`` relaxes fast-forward-only for APPEND-ONLY branches:
  the branch's new commits replay onto a moved main head in one merged
  manifest — Iceberg's snapshot-isolation append validation generalized
  to a multi-commit branch. MOR deletes are rebasable when every
  targeted fork-point commit is provably UNTOUCHED by main (identical
  commit marker — file sets only shrink, so marker equality proves no
  rewrite raced the delete); anything else that could interleave
  (fork-point file rewrites, deletes into rewritten commits,
  schema/spec/defaults evolution) still refuses.
- ``snapshot_branch_changes`` is the pre-publish REVIEW diff: the exact
  insert/delete rows a publish would apply, from the branch's own
  change feed (O(changed data)).

CDC interplay: a publish of an append+MOR-only branch (the WAP /
transaction shape) is one ordinary change-feed step — inserts + delete
pre-images emit at the publish version and downstream mirrors replay it
with no extra machinery (tested). A branch containing COW rewrites
publishes as a SQUASH with no single row-delta story; the change feed
refuses that step loudly (re-anchor past it), exactly like any other
multi-rewrite overwrite.

At 100 TB the costs are all metadata-sized: branch creation links
O(files) names (no data movement), audits run Spark jobs against the
branch like any read, and publish links only the files the branch ADDED
(O(changed commits) via the manifest's commit markers, never a rewrite).

No reference analog (the reference is an Airflow ETL shim,
/root/reference/src/airflow_postgres_csv/operators.py:12-98) — extension
surface; semantics follow Iceberg's WAP / branch docs and Delta's
shallow-clone-then-swap pattern from public sources.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from airflow_postgres_csv_spark.operators.snapshots import (
    _KEYS,
    _MAX_STAMPS,
    SnapshotConflictError,
    _commit_of,
    _load_manifest,
    _next_body,
    _publish,
    snapshot_clone,
    snapshot_commit,
    snapshot_files_diff,
    snapshot_read,
    snapshot_versions,
)

__all__ = [
    "snapshot_branch",
    "snapshot_branches",
    "snapshot_drop_branch",
    "snapshot_publish_branch",
    "snapshot_branch_changes",
    "snapshot_transaction",
    "run_audits",
    "write_audit_publish",
    "AuditError",
]

_BRANCH_DIR = "_branches"


class AuditError(RuntimeError):
    """A WAP audit failed; main is untouched, the branch is retained."""

    def __init__(self, branch: str, failed: list[str]):
        super().__init__(
            f"audit failed on branch {branch!r}: {', '.join(failed)} "
            "(main unchanged; branch retained for triage)"
        )
        self.branch = branch
        self.failed = failed


def _branch_root(root: str, name: str) -> str:
    if not name or "/" in name or os.sep in name or name.startswith("."):
        raise ValueError(f"invalid branch name {name!r}")
    return os.path.join(root, _BRANCH_DIR, name)


def snapshot_branch(root: str, name: str, version: int | str | None = None) -> str:
    """Create branch ``name`` from a pinned main version (default head)
    and return its root path — directly usable with every snapshot
    operator. The branch is a hardlink clone under ``<root>/_branches``;
    its v1 manifest records the fork point (``cloned_from``). Branching a
    table with NO versions yet yields an empty bootstrap branch (fork
    point = nothing): the first WAP publish creates main's v1."""
    broot = _branch_root(root, name)
    if snapshot_versions(broot):
        raise FileExistsError(f"branch {name!r} already exists at {broot}")
    if not snapshot_versions(root):
        os.makedirs(broot, exist_ok=True)
        return broot
    snapshot_clone(root, broot, version=version)
    return broot


def snapshot_branches(root: str) -> dict[str, dict]:
    """Live branches: name -> {base (main version forked from),
    head (branch-local head version), root}."""
    bdir = os.path.join(root, _BRANCH_DIR)
    out: dict[str, dict] = {}
    if not os.path.isdir(bdir):
        return out
    for name in sorted(os.listdir(bdir)):
        broot = os.path.join(bdir, name)
        versions = snapshot_versions(broot)
        if not versions:
            continue
        base = _load_manifest(broot, versions[0]).get("cloned_from")
        out[name] = {"base": base, "head": versions[-1], "root": broot}
    return out


def snapshot_drop_branch(root: str, name: str) -> None:
    """Remove a branch (its directory and branch-local manifests).
    Hardlinked data shared with main survives — only the branch's names
    are unlinked, exactly like ``snapshot_expire`` on a clone."""
    shutil.rmtree(_branch_root(root, name))


def _link_back(root: str, broot: str, bm: dict, added: list[str]) -> None:
    """Hardlink the branch's new data / delete / sidecar files into the
    table root (idempotent — existing names are base files or retries)."""
    to_link = list(added)
    for t in bm.get("tombstones", []):
        to_link.extend(t["files"])
    if bm.get("merge_info"):
        to_link.extend(bm["merge_info"]["key_files"])
    to_link.extend(bm.get("sidecars", {}).values())
    for rel in to_link:
        dst = os.path.join(root, rel)
        if os.path.exists(dst):
            continue
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        try:
            os.link(os.path.join(broot, rel), dst)
        except FileExistsError:
            # a concurrent publish linked the same inode between our
            # exists-check and link — identical content, safe to skip;
            # the manifest link downstream still arbitrates the winner
            pass


def _rebase_body(
    base_m: dict, bm: dict, head_m: dict, added: list[str], removed: list[str],
    commit_id: str,
) -> dict:
    """Replay an APPEND-ONLY branch onto a moved main head: returns the
    merged manifest body, or raises ``SnapshotConflictError`` on any
    change that could interleave with main's concurrent commits
    (Iceberg's snapshot-isolation validation, conservatively)."""

    def conflict(why: str):
        raise SnapshotConflictError(
            f"rebase publish refused: {why}; re-branch from the current "
            "head and replay"
        )

    if removed:
        conflict("the branch rewrote or removed fork-point files "
                 "(COW merge/delete/compaction on shared data)")
    if bm.get("schema") != base_m.get("schema"):
        conflict("the branch evolved the table schema")
    bspecs = bm.get("partition_specs") or []
    if bspecs != (base_m.get("partition_specs") or []):
        conflict("the branch evolved the partition spec")
    if bm.get("defaults") != base_m.get("defaults"):
        conflict("the branch changed column defaults")
    # index stability: the branch commits' spec indexes (commit_partitions
    # "s") must resolve to the SAME specs in main's head list
    if (head_m.get("partition_specs") or [])[: len(bspecs)] != bspecs:
        conflict("main's partition-spec history no longer extends the "
                 "branch's")
    base_cids = set(base_m.get("commit_files", {}))
    new_cids = [c for c in bm.get("commit_files", {}) if c not in base_cids]
    new_set = set(new_cids)

    def untouched(cid: str) -> bool:
        """A fork-point commit main still pins with an IDENTICAL marker:
        file sets only ever shrink, so an equal marker proves main
        neither rewrote, compacted, nor partially retained it — a branch
        delete scoped to it cannot have lost a race with a rewrite
        (Iceberg's validateNoConflicting* checks, on commit markers)."""
        return head_m.get("commit_files", {}).get(cid) == base_m[
            "commit_files"
        ].get(cid)

    base_tombs = {_tomb_key(t): t for t in base_m.get("tombstones", [])}
    new_tombs = []
    for t in bm.get("tombstones", []):
        if _tomb_key(t) in base_tombs:
            continue  # inherited from the fork point; main carries its own
        targets = (
            {_commit_of(rel) for rel in t.get("applies", [])}
            if t.get("kind") == "positional"
            else set(t.get("commits", []))
        )
        if not all(c in new_set or untouched(c) for c in targets):
            conflict("the branch deleted rows from fork-point commits "
                     "that main concurrently rewrote or dropped")
        new_tombs.append(t)
    body = _next_body(
        head_m, list(head_m["files"]) + list(added), mode="publish_branch",
        commit_id=commit_id, schema=head_m["schema"],
    )
    body["tombstones"] += new_tombs
    # the branch's new commits bring their own per-commit entries; the
    # branch's schema elision resolves explicitly (_publish re-elides
    # against MAIN's, possibly evolved, table schema)
    body["commit_schemas"].update(
        {c: bm.get("commit_schemas", {}).get(c, bm.get("schema")) for c in new_cids}
    )
    for key, (carry, _) in _KEYS.items():
        if carry != "commits" or key in ("commit_schemas", "tombstones"):
            continue
        if key == "sorted_commits" and head_m.get("sort_order") != bm.get(
            "sort_order"
        ):
            # a branch that re-declared the order sorted by keys main
            # does not recognize
            continue
        val = bm.get(key) or ()
        if not (mine := [c for c in new_cids if c in val]):
            continue
        if isinstance(val, dict):
            body[key] = {**body.get(key, {}), **{c: val[c] for c in mine}}
        else:
            body[key] = sorted(set(body.get(key, [])) | set(mine))
    return body


def _tomb_key(t: dict) -> str:
    return "|".join(sorted(t.get("files", [])))


def snapshot_publish_branch(
    root: str, name: str, drop: bool = True,
    rebase: bool = False, retries: int = 0,
) -> dict:
    """Publish the branch to main, atomically.

    Fast-forward (main still at the fork point): files the branch added
    since its base (new commits' data files, delete-tombstone key files,
    commit sidecars) are hardlinked back into the table root first, then
    ONE manifest is published on main carrying the branch head's exact
    state — schema, tombstones, per-commit metadata, partition specs,
    rollups — with the streaming high-water stamps (``last_batch_id``,
    CDC/IVM applied versions) the max of main's and the branch's, as on a
    rebase publish. The manifest link is the atomic commit point
    (first-writer-wins).

    If main moved past the fork point the publish raises
    ``SnapshotConflictError`` — unless ``rebase=True`` AND the branch is
    APPEND-ONLY relative to its base (no fork-point file rewrites or
    removals, no deletes targeting fork-point commits, no schema /
    partition-spec / defaults evolution). Then the branch's new commits
    are replayed onto main's head in one merged manifest — Iceberg's
    snapshot-isolation append validation, generalized to a multi-commit
    branch. Anything that could interleave with main's concurrent
    changes still refuses. ``retries`` re-runs the whole validate+merge
    against the new head when a racing writer lands first (O(manifest)
    each time; data files are never relinked twice)."""
    broot = _branch_root(root, name)
    bversions = snapshot_versions(broot)
    if not bversions:
        raise FileNotFoundError(f"no branch {name!r} at {broot}")
    base = _load_manifest(broot, bversions[0]).get("cloned_from")
    bm = _load_manifest(broot, bversions[-1])
    base_m_cache: dict | None = None
    while True:
        versions = snapshot_versions(root)
        fast_forward = (
            versions[-1] == base if versions else base is None
        )
        if not fast_forward and not rebase:
            raise SnapshotConflictError(
                f"branch {name!r} forked from version {base} but main is at "
                f"{versions[-1] if versions else None}; fast-forward publish "
                "refused — re-branch from the current head and replay, or "
                "publish with rebase=True for an append-only branch"
            )
        if base_m_cache is None:
            base_m_cache = (
                # the branch's own v1 (the clone manifest) IS the fork
                # point's state — reading it instead of main's manifest
                # keeps long-lived branches publishable even after main
                # EXPIRED the base version (rebase never needs main to
                # retain history beyond its head)
                _load_manifest(broot, bversions[0])
                if base is not None
                # bootstrap branch of an empty table: fork point = nothing;
                # the vacuous schema/spec/defaults twins keep the rebase
                # validation meaningful (only index stability vs main's
                # head still applies)
                else {
                    "files": [], "commit_files": {}, "tombstones": [],
                    "schema": bm.get("schema"),
                    "defaults": bm.get("defaults"),
                    "partition_specs": bm.get("partition_specs"),
                }
            )
        base_m = base_m_cache
        added, removed = snapshot_files_diff(broot, base_m, bm)
        commit_id = uuid.uuid4().hex[:12]
        head_m = _load_manifest(root, versions[-1]) if versions else {}
        if fast_forward:
            # main takes the branch head's exact state, including the
            # last branch commit's merge record
            body = _next_body(
                bm, bm["files"], mode="publish_branch", commit_id=commit_id,
                schema=bm["schema"],
            )
            if "merge_info" in bm:
                body["merge_info"] = bm["merge_info"]
        else:
            body = _rebase_body(base_m, bm, head_m, added, removed, commit_id)
        # monotone stamps merge by max on both paths: a branch starts as a
        # clone WITHOUT main's stream stamps, the streaming WAP body threads
        # its batch id through the branch commit, and main's head must
        # never lose (or lower) an exactly-once high-water mark
        for stamp in _MAX_STAMPS:
            vals = [m[stamp] for m in (head_m, bm) if m.get(stamp) is not None]
            if vals:
                body[stamp] = max(vals)
        _link_back(root, broot, bm, added)
        body.update(
            branch=name,
            branch_base=base,
            branch_commits=len(bversions) - 1,
            rebased=not fast_forward,
        )
        try:
            out = _publish(
                root, versions, body, commit_id, None,
                pack_hints=dict.get(bm, "commit_files"),
            )
            break
        except SnapshotConflictError:
            if retries <= 0:
                raise
            retries -= 1
    if drop:
        snapshot_drop_branch(root, name)
    return out


def run_audits(staged: DataFrame, audits: dict) -> list[str]:
    """Evaluate every audit against the staged table state; returns the
    names that failed. An audit is either a SQL boolean expression
    (aggregates allowed, e.g. ``"count(*) > 0 AND sum(amount) >= 0"``)
    or a callable ``(DataFrame) -> bool``."""
    failed = []
    for aname, audit in audits.items():
        if callable(audit):
            ok = bool(audit(staged))
        else:
            ok = bool(staged.selectExpr(f"({audit}) AS ok").first()[0])
        if not ok:
            failed.append(aname)
    return failed


def write_audit_publish(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    audits: dict,
    branch: str | None = None,
    rebase: bool = False,
    publish_retries: int = 0,
    **commit_kwargs,
) -> dict:
    """One-call WAP: commit ``df`` on an ephemeral branch, audit the
    branch head (the FULL would-be table state), publish on pass.

    ``audits`` is a ``run_audits`` mapping. All audits run; if any
    fails, main is left untouched, the branch is RETAINED for triage,
    and ``AuditError`` lists the failures. On success returns the
    published main manifest (the branch is consumed). ``commit_kwargs``
    forward to the staging ``snapshot_commit`` (expectations, sketches,
    partition transforms, ``extra=`` stamps...). ``rebase=True`` +
    ``publish_retries`` let the publish replay past concurrent main
    commits (snapshot isolation — note the audits then validated the
    fork-point view, not the interleaved head)."""
    name = branch or f"wap-{uuid.uuid4().hex[:8]}"
    broot = snapshot_branch(root, name)
    snapshot_commit(df, broot, **commit_kwargs)
    failed = run_audits(snapshot_read(spark, broot), audits)
    if failed:
        raise AuditError(name, failed)
    return snapshot_publish_branch(
        root, name, rebase=rebase, retries=publish_retries
    )


def snapshot_branch_changes(
    spark: SparkSession, root: str, name: str
) -> DataFrame:
    """Row-level REVIEW DIFF of a branch: every change the publish would
    apply to main, as the branch's own change feed from its fork point
    (clone v1) to its head — ``_change_type`` insert/delete rows with
    ``_commit_version`` provenance, O(changed data) never O(table). The
    pre-publish review step of the WAP loop: audit aggregates say
    whether to publish, this says exactly WHAT."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_table_changes,
    )

    broot = _branch_root(root, name)
    versions = snapshot_versions(broot)
    if not versions:
        raise FileNotFoundError(f"no branch {name!r} at {broot}")
    return snapshot_table_changes(spark, broot, versions[0], versions[-1])


@contextlib.contextmanager
def snapshot_transaction(root: str, rebase: bool = False, retries: int = 0):
    """Multi-statement ACID transaction on one snapshot table.

    Yields an ephemeral branch root; run ANY sequence of snapshot
    operations against it (appends, MOR/COW deletes, MERGE INTO,
    compaction — they all just take a root). On clean exit the branch
    publishes to main in ONE atomic manifest link, so readers observe
    every statement or none; on exception the branch is dropped and main
    is untouched (automatic rollback). Isolation is snapshot-level: the
    transaction works on the fork-point state and publish is
    fast-forward-only by default, so a concurrent main commit aborts
    this transaction (``SnapshotConflictError``) rather than
    interleaving — first committer wins, exactly like the single-commit
    ``expected_head`` guard, generalized to N statements.
    ``rebase=True`` upgrades to snapshot isolation for APPEND-ONLY
    transactions: they replay onto the moved head instead of aborting
    (``retries`` bounds how many racing writers to rebase past).

    >>> with snapshot_transaction(root) as txn:
    ...     snapshot_commit(staging_df, txn)
    ...     snapshot_delete_mor(spark, txn, "stale = true", key_col="id")
    """
    name = f"txn-{uuid.uuid4().hex[:8]}"
    broot = snapshot_branch(root, name)
    try:
        yield broot
    except BaseException:
        snapshot_drop_branch(root, name)
        raise
    try:
        snapshot_publish_branch(root, name, rebase=rebase, retries=retries)
    except SnapshotConflictError:
        # aborted transaction (first-committer-wins): drop the ephemeral
        # branch too, exactly like the exception path — otherwise retried
        # transactions accumulate random-named branches pinning hardlinked
        # data until the stale-branch advisor fires
        snapshot_drop_branch(root, name)
        raise
