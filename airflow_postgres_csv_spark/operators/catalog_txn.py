"""Multi-table ATOMIC transactions over snapshot tables — a catalog
pointer in the Iceberg-REST-catalog shape.

A *catalog* is a directory of immutable JSON versions, each pinning
``table name -> (table root, snapshot version)`` for every registered
table. The commit point is ONE atomic ``os.link`` of the next catalog
version (the same first-writer-wins primitive as the per-table
manifests), so a transaction touching N tables flips all N pins — or
none — in a single filesystem operation.

Protocol of ``catalog_txn`` (write-audit-publish generalized across
tables):

1. every table write runs as an ordinary ``snapshot_commit`` — data and
   per-table manifests become durable first (each table's own invariants,
   expectations, Bloom/zone indexing all apply unchanged);
2. one catalog version is published pinning the new per-table versions.

A crash between 1 and 2 leaves the catalog at its previous version:
``catalog_read`` still serves the old, mutually-consistent pins, and the
already-committed table versions are ordinary time-travel versions
(orphaned from the catalog's point of view — the exact status of a
write-audit-publish staging commit). Readers that go straight to a
table root (``snapshot_read``) see per-table latest, which may be newer
than the catalog pin — cross-table consistency is a property of reading
THROUGH the catalog, as in every pointer-based catalog design.

Concurrency: a losing ``os.link`` raises; with ``retries`` the loser
REBASES — it re-reads the new head and re-applies its pins on top,
unless the winner moved one of the SAME tables (a genuine cross-txn
conflict, surfaced as ``CatalogConflictError``). Unchanged tables
carry forward by pointer copy — O(tables) metadata, no data touched.

At 100 TB the catalog version is O(tables): the per-table metadata
(file lists, stats sidecars) stays in the table manifests; the catalog
holds only name → (root, version) pins plus lineage stamps.

Reference scope: extension surface (north star §C) — the reference
engine delegates transactions to Postgres (one-table COPY per operator,
/root/reference/src/airflow_postgres_csv/operators.py:101-212); this is
the lakehouse-side equivalent for multi-table pipelines (e.g. a
curation step that must publish `documents` and its `doc_stats` rollup
in lockstep).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from airflow_postgres_csv_spark.operators.snapshots import (
    SnapshotConflictError,
    snapshot_commit,
    snapshot_read,
)

_CATALOG_DIR = "_catalog"

# Sticky high-water stamps (e.g. a streaming sink's exactly-once batch
# gate) are inherited onto every later catalog version the way
# snapshots._inherit_maps carries table-level keys: without inheritance,
# >= keep_last interleaved pin-only transactions would let catalog_expire
# delete the newest carrier and silently reopen the gate.
_STICKY_STAMP_KEYS = ("last_batch_id",)


class CatalogConflictError(RuntimeError):
    """A concurrent transaction moved one of the same tables."""


def _catalog_path(catalog_root: str, version: int) -> str:
    return os.path.join(catalog_root, _CATALOG_DIR, f"c{version:06d}.json")


def catalog_versions(catalog_root: str) -> list[int]:
    """Committed catalog versions, ascending; [] for a fresh root."""
    cdir = os.path.join(catalog_root, _CATALOG_DIR)
    if not os.path.isdir(cdir):
        return []
    out = []
    for name in os.listdir(cdir):
        if name.startswith("c") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _load_catalog(catalog_root: str, version: int) -> dict:
    with open(_catalog_path(catalog_root, version)) as f:
        return json.load(f)


def catalog_state(catalog_root: str, catalog_version: int | None = None) -> dict:
    """The pinned ``{table: {"root": ..., "version": ...}}`` map at a
    catalog version (latest when None). {} for an empty catalog."""
    versions = catalog_versions(catalog_root)
    if not versions:
        return {}
    v = versions[-1] if catalog_version is None else catalog_version
    if v not in versions:
        raise ValueError(f"catalog version {v} does not exist (have {versions})")
    return _load_catalog(catalog_root, v)["tables"]


def _publish_catalog(
    catalog_root: str,
    versions: list[int],
    tables: dict,
    txn_id: str,
    note: str,
    extra: dict | None = None,
) -> dict:
    version = (versions[-1] + 1) if versions else 1
    parent = _load_catalog(catalog_root, versions[-1]) if versions else {}
    manifest = {
        "version": version,
        "parent": versions[-1] if versions else None,
        "committed_at": max(time.time_ns(), parent.get("committed_at", 0) + 1),
        "txn_id": txn_id,
        "note": note,
        "tables": tables,
    }
    for key in _STICKY_STAMP_KEYS:
        # inherit from the parent; `extra` below may override with a newer
        # value (the stamp is a high-water mark, so max keeps it monotone
        # even if a replayed writer passes a stale one)
        if key in parent:
            manifest[key] = parent[key]
    if extra:
        for key in _STICKY_STAMP_KEYS:
            if key in extra and key in manifest:
                extra = {**extra, key: max(extra[key], manifest[key])}
    if extra:
        reserved = set(manifest) - set(_STICKY_STAMP_KEYS)
        bad = set(extra) & reserved
        if bad:
            raise ValueError(f"extra may not override reserved keys: {sorted(bad)}")
        manifest.update(extra)
    os.makedirs(os.path.join(catalog_root, _CATALOG_DIR), exist_ok=True)
    tmp = _catalog_path(catalog_root, version) + f".tmp-{txn_id}"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    try:
        os.link(tmp, _catalog_path(catalog_root, version))
    except FileExistsError:
        os.unlink(tmp)
        raise SnapshotConflictError(
            f"catalog version {version} was published by a concurrent transaction"
        ) from None
    os.unlink(tmp)
    return manifest


def catalog_max_stamp(catalog_root: str, key: str, default: int = -1) -> int:
    """Newest-first scan for a sticky high-water stamp carried on catalog
    versions (e.g. a streaming sink's ``last_batch_id``): the newest
    carrier wins; versions lacking the key (other transactions) are
    skipped so an interleaved txn can never reopen a closed gate."""
    versions = catalog_versions(catalog_root)
    for v in reversed(versions):
        m = _load_catalog(catalog_root, v)
        if key in m:
            return m[key]
    return default


def catalog_pin_tables(
    catalog_root: str,
    pins: dict[str, tuple[str, int]],
    retries: int = 0,
    note: str = "",
    extra: dict | None = None,
    ddl: list[dict] | None = None,
) -> dict:
    """Atomically move the catalog to a version where each ``pins`` entry
    ``name -> (table_root, snapshot_version)`` is current; every other
    table carries forward unchanged. Returns the new catalog manifest.

    ``ddl`` ops (``catalog_ddl`` shapes) apply AFTER the pins in the same
    flip — the write-and-promote pattern: pin a staged table's new
    version and rename it over the live name in one atomic version.

    With ``retries`` a losing publish rebases onto the new head — unless
    the winner moved one of the SAME tables (pinned or DDL-touched;
    ``CatalogConflictError``: two transactions disagree about a table and
    one must re-run against the new state; blind retry would silently
    drop the winner's update).
    """
    txn_id = uuid.uuid4().hex[:12]
    touched = set(pins) | (_ddl_touched(ddl) if ddl else set())
    attempts = 0
    while True:
        versions = catalog_versions(catalog_root)
        # base MUST be the state at versions[-1] (the version the publish
        # below targets +1), not a separate latest-listing: a concurrent
        # publish landing between the two listings would make attempt 0's
        # snapshot already contain the winner's pins, so the retry's
        # same-table conflict check would compare winner-state to
        # winner-state and silently overwrite the winner's pin.
        base = catalog_state(catalog_root, versions[-1]) if versions else {}
        if attempts > 0:
            for name in touched:
                before = base_at_start.get(name)
                now = base.get(name)
                if before != now:
                    raise CatalogConflictError(
                        f"table {name!r} was moved by a concurrent transaction "
                        f"({before} -> {now}); re-run against the new state"
                    )
        else:
            base_at_start = dict(base)
        tables = dict(base)
        for name, (root, version) in pins.items():
            if _is_virtual(tables.get(name, {})):
                raise ValueError(
                    f"{name!r} is a view — a table pin cannot replace it "
                    "(drop it first)"
                )
            tables[name] = {"root": os.path.abspath(root), "version": int(version)}
        if ddl:
            _apply_ddl(tables, ddl)
        try:
            return _publish_catalog(
                catalog_root, versions, tables, txn_id, note, extra=extra
            )
        except SnapshotConflictError:
            attempts += 1
            if attempts > retries:
                raise


def _is_view(pin: dict) -> bool:
    """Whether a catalog binding is a stored VIEW (SQL text + table
    aliases) rather than a table pin ({"root", "version"})."""
    return isinstance(pin, dict) and "view" in pin


def _is_mview(pin: dict) -> bool:
    """Whether a catalog binding is a MATERIALIZED view (stored SQL plus
    a materialized snapshot table and the source pins it was computed
    from)."""
    return isinstance(pin, dict) and "mview" in pin


def _is_virtual(pin: dict) -> bool:
    return _is_view(pin) or _is_mview(pin)


def _normalize_incremental(name: str, inc: dict) -> dict:
    """Validate + canonicalize an incremental-mview spec. Accepts the
    legacy ``{group_col, amount_col}`` (count+sum) and the general
    ``{group_cols: [...], amount_col, aggs: [...]}`` shapes; returns the
    canonical ``{group_cols, amount_col, aggs}`` with aggs in the fixed
    count/sum/avg/min/max order (the stored-schema and read-surface
    column order both derive from it). An ``on`` key declares a TWO-TABLE
    join rollup (``snapshot_incremental_join_agg``): one shared column
    name, a list of shared names, or ``{a_col: b_col}`` — canonicalized
    to ``[[a_col, b_col], ...]`` pairs in declaration order; the mview's
    FIRST bound table is the A side."""
    from airflow_postgres_csv_spark.operators.snapshots import _IVM_AGGS

    allowed = {"group_col", "group_cols", "amount_col", "aggs", "on"}
    if (
        set(inc) - allowed
        or "amount_col" not in inc
        or ("group_col" in inc) == ("group_cols" in inc)
    ):
        raise ValueError(
            f"mview {name!r}: incremental needs exactly 'amount_col' plus "
            "'group_col' OR 'group_cols' (optional: 'aggs', 'on')"
        )
    keys = (
        [inc["group_col"]] if "group_col" in inc else list(inc["group_cols"])
    )
    if not keys or not all(isinstance(k, str) and k for k in keys):
        raise ValueError(
            f"mview {name!r}: group_cols must be non-empty column names"
        )
    if len(set(keys)) != len(keys):
        raise ValueError(f"mview {name!r}: duplicate group columns {keys}")
    want = set(inc.get("aggs") or ("count", "sum"))
    bad = want - set(_IVM_AGGS)
    if bad:
        raise ValueError(
            f"mview {name!r}: aggs supports {_IVM_AGGS}, got {sorted(bad)}"
        )
    out = {
        "group_cols": keys,
        "amount_col": inc["amount_col"],
        "aggs": [a for a in _IVM_AGGS if a in want],
    }
    if "on" in inc:
        on = inc["on"]
        if isinstance(on, str):
            pairs = [[on, on]]
        elif isinstance(on, dict):
            pairs = [[a, b] for a, b in on.items()]
        else:
            pairs = [list(p) if isinstance(p, (list, tuple)) else [p, p]
                     for p in on]
        if not pairs or not all(
            len(p) == 2 and all(isinstance(c, str) and c for c in p)
            for p in pairs
        ):
            raise ValueError(
                f"mview {name!r}: 'on' must name join key columns "
                "(shared name, list, or {a_col: b_col})"
            )
        if len({p[0] for p in pairs}) != len(pairs):
            raise ValueError(
                f"mview {name!r}: duplicate A-side join keys in 'on'"
            )
        out["on"] = pairs
    return out


_IVM_SQL_AGG = {
    "count": "COUNT(*) AS n",
    "sum": "SUM({a}) AS total",
    "avg": "AVG({a}) AS avg",
    "min": "MIN({a}) AS mn",
    "max": "MAX({a}) AS mx",
}


def _ivm_sql(inc: dict, src: str, src_b: str | None = None) -> str:
    """The recompute-equivalent SQL for an incremental mview — stored for
    listings and as the redefinition guard's identity. Join rollups
    render the two-table inner-join form with explicit key equalities."""
    a = inc["amount_col"]
    cols = ", ".join(
        list(inc["group_cols"])
        + [_IVM_SQL_AGG[x].format(a=a) for x in inc["aggs"]]
    )
    keys = ", ".join(inc["group_cols"])
    if src_b is not None:
        cond = " AND ".join(
            f"{src}.{l} = {src_b}.{r}" for l, r in inc["on"]
        )
        return (
            f"SELECT {cols} FROM {src} JOIN {src_b} ON {cond} "
            f"GROUP BY {keys} -- incremental join IVM"
        )
    return f"SELECT {cols} FROM {src} GROUP BY {keys} -- incremental IVM"


_ALIAS_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _view_entry(tables: dict, op: dict) -> dict:
    """Validate a create_view/replace_view op against the bindings map
    and return the catalog entry. Views share the namespace with tables
    (Iceberg's rule — one name, one object); references are stored as
    ``alias -> catalog table name`` so the SQL text stays engine-plain
    (aliases are plain identifiers, registered fresh at read time) and a
    rename of the VIEW never has to rewrite it. View-on-view is refused:
    late-binding + shared-map cycles are a resolver of their own — keep
    the dependency graph one level deep."""
    sql = op.get("sql")
    refs = op.get("tables")
    if not isinstance(sql, str) or not sql.strip():
        raise ValueError(f"view {op['name']!r}: 'sql' must be non-empty SQL text")
    if not isinstance(refs, dict) or not refs:
        raise ValueError(
            f"view {op['name']!r}: 'tables' must map alias -> catalog table"
        )
    for alias, tname in refs.items():
        if not _ALIAS_RE.match(alias):
            raise ValueError(
                f"view {op['name']!r}: alias {alias!r} is not a plain "
                "identifier"
            )
        ent = tables.get(tname)
        if ent is None:
            raise KeyError(
                f"view {op['name']!r}: referenced table {tname!r} not in "
                f"catalog (have {sorted(tables)})"
            )
        if _is_virtual(ent):
            raise ValueError(
                f"view {op['name']!r}: {tname!r} is itself a view — "
                "view-on-view is not supported"
            )
    return {"view": {"sql": sql, "tables": dict(refs)}}


def _view_dependents(tables: dict, name: str) -> list[str]:
    """Names of live views / materialized views that reference table
    ``name``."""
    out = []
    for v, ent in tables.items():
        if _is_view(ent) and name in ent["view"]["tables"].values():
            out.append(v)
        elif _is_mview(ent) and name in ent["mview"]["tables"].values():
            out.append(v)
    return sorted(out)


def _apply_ddl(tables: dict, ops: list[dict]) -> None:
    """Apply validated create/rename/drop/create_view/replace_view/
    drop_view ops to a bindings map in place (shared by ``catalog_ddl``
    and the ``ddl=`` riders on ``catalog_pin_tables``/``catalog_txn``)."""
    for op in ops:
        kind, name = op["op"], op["name"]
        if kind == "create":
            if name in tables:
                raise ValueError(f"table {name!r} already exists")
            from airflow_postgres_csv_spark.operators.snapshots import (
                snapshot_versions,
            )

            root = os.path.abspath(op["root"])
            version = op.get("version")
            if version is None:
                tvs = snapshot_versions(root)
                if not tvs:
                    raise FileNotFoundError(
                        f"create {name!r}: no snapshot versions at {root}"
                    )
                version = tvs[-1]
            tables[name] = {"root": root, "version": int(version)}
        elif kind == "rename":
            to = op["to"]
            if name not in tables:
                raise KeyError(f"rename: no table {name!r} in catalog")
            if to in tables:
                raise ValueError(f"rename target {to!r} already exists")
            if not _is_virtual(tables[name]):
                deps = _view_dependents(tables, name)
                if deps:
                    raise ValueError(
                        f"rename {name!r}: views {deps} reference it by "
                        "name; replace or drop them first"
                    )
            tables[to] = tables.pop(name)
        elif kind == "drop":
            if name not in tables:
                raise KeyError(f"drop: no table {name!r} in catalog")
            if _is_view(tables[name]):
                raise ValueError(f"{name!r} is a view — use drop_view")
            if _is_mview(tables[name]):
                raise ValueError(f"{name!r} is a materialized view — use drop_mview")
            deps = _view_dependents(tables, name)
            if deps:
                raise ValueError(
                    f"drop {name!r}: views {deps} reference it; drop them "
                    "first (DROP ... CASCADE is deliberately absent)"
                )
            del tables[name]
        elif kind == "create_view":
            if name in tables:
                raise ValueError(f"name {name!r} already exists")
            tables[name] = _view_entry(tables, op)
        elif kind == "replace_view":
            if name not in tables or not _is_view(tables[name]):
                raise KeyError(f"replace_view: no view {name!r} in catalog")
            tables[name] = _view_entry(tables, op)
        elif kind == "drop_view":
            if name not in tables or not _is_view(tables[name]):
                raise KeyError(f"drop_view: no view {name!r} in catalog")
            del tables[name]
        elif kind == "create_mview":
            if name in tables:
                raise ValueError(f"name {name!r} already exists")
            inc = op.get("incremental")
            if inc is not None:
                # incrementally-maintained rollup over ONE source table,
                # refreshed via change-feed IVM instead of a recompute —
                # the sql field is synthesized for listings. Legacy shape
                # {group_col, amount_col} = (count, sum); the general
                # shape adds group_cols (list) and aggs (subset of
                # count/sum/avg/min/max, min/max maintained with
                # retraction-scoped recompute).
                inc = _normalize_incremental(name, inc)
                n_src = 2 if "on" in inc else 1
                if len(op.get("tables") or {}) != n_src:
                    raise ValueError(
                        f"mview {name!r}: incremental mviews take exactly "
                        f"{'two source tables (A then B)' if n_src == 2 else 'one source table'}"
                    )
                aliases = list(op["tables"])
                op = {
                    **op,
                    "incremental": inc,
                    "sql": _ivm_sql(
                        inc, aliases[0],
                        aliases[1] if n_src == 2 else None,
                    ),
                }
            ent = _view_entry(tables, op)
            mroot = op.get("root")
            if not mroot:
                raise ValueError(
                    f"mview {name!r}: 'root' (materialized table path) "
                    "required"
                )
            mv = {
                **ent["view"],
                "root": os.path.abspath(mroot),
                # unrefreshed: no materialized version, no source pins
                "version": None,
                "pins": None,
            }
            if inc is not None:
                mv["incremental"] = dict(inc)
            tables[name] = {"mview": mv}
        elif kind == "set_mview":
            # INTERNAL (catalog branch publish): install a fully-formed
            # materialized-view entry — create or update — in the same
            # atomic flip as the accompanying table pins. Not part of
            # the public DDL surface; user-facing paths go through
            # create_mview / catalog_refresh_mview.
            existing = tables.get(name)
            if existing is not None and not _is_mview(existing):
                raise ValueError(
                    f"set_mview: {name!r} is not a materialized view"
                )
            tables[name] = {"mview": dict(op["mview"])}
        elif kind == "drop_mview":
            if name not in tables or not _is_mview(tables[name]):
                raise KeyError(
                    f"drop_mview: no materialized view {name!r} in catalog"
                )
            del tables[name]
        else:
            raise ValueError(f"unknown DDL op {kind!r}")


def _ddl_touched(ops: list[dict]) -> set[str]:
    touched: set[str] = set()
    for op in ops:
        touched.add(op["name"])
        if op["op"] == "rename":
            touched.add(op["to"])
    return touched


def catalog_ddl(
    catalog_root: str,
    ops: list[dict],
    retries: int = 0,
    note: str = "",
) -> dict:
    """Table DDL as ONE atomic catalog version — the namespace surface of
    an Iceberg-REST-shape catalog. Each op is a dict:

    - ``{"op": "create", "name": ..., "root": ..., "version": N|None}`` —
      bind a new name to a snapshot table (latest version when None);
      the name must not exist.
    - ``{"op": "rename", "name": ..., "to": ...}`` — move the pin to a
      new name (``to`` must be free, ``name`` bound). The table root and
      data are untouched: rename is an O(1) metadata move, and because
      name resolution is PER CATALOG VERSION, as-of / time-travel reads
      keep resolving the OLD name at old versions — a replayed pipeline
      sees exactly the names of its era.
    - ``{"op": "drop", "name": ...}`` — unbind the name from the HEAD.
      Retention-protected: the table's manifests/data are never touched
      (per-table GC stays ``snapshot_expire``'s job), and every older
      catalog version still resolves the name until ``catalog_expire``
      retires it — DROP is an unbind, not a delete.

    Views share the same namespace and versioning (Iceberg view-spec
    shape — the catalog stores SQL text, resolved late):

    - ``{"op": "create_view", "name": ..., "sql": ..., "tables":
      {alias: table_name}}`` — bind a name to SQL text over catalog
      tables; each alias registers as a temp view pinned at the READING
      catalog version, so time travel replays the view text and the
      table pins of its era together. View-on-view is refused.
    - ``{"op": "replace_view", ...}`` — CREATE OR REPLACE (same shape;
      the name must be an existing view).
    - ``{"op": "drop_view", "name": ...}`` — unbind (head only, like
      drop). Renaming/dropping a TABLE that live views reference is
      refused until the views are replaced or dropped; plain ``drop`` on
      a view (or a table pin over a view name) is refused too — one
      name, one object kind.

    Materialized views (Iceberg's materialized-view shape — stored SQL
    plus a managed snapshot table and the source pins it was computed
    from):

    - ``{"op": "create_mview", "name": ..., "sql": ..., "tables":
      {alias: table_name}, "root": path}`` — register (unrefreshed);
      ``catalog_refresh_mview(spark, ...)`` materializes from the head
      pins and flips ``pins``/``version`` atomically. ``catalog_read``
      serves the MATERIALIZED table at the entry's pinned version —
      possibly stale, never recomputed inline (``catalog_mviews`` reports
      staleness). The materialized root is a normal snapshot table:
      time travel, expire, and ``catalog_vacuum`` all apply.
    - ``{"op": "drop_mview", "name": ...}`` — unbind (head only).

    Names are dot-qualified (``namespace.table``); ``catalog_tables``
    lists per namespace. All ops in one call flip together (e.g. the
    classic staging swap: rename live→old + staged→live atomically).
    Conflict semantics match ``catalog_pin_tables``: with ``retries`` a
    losing publish rebases unless a concurrent transaction touched one of
    the SAME names (``CatalogConflictError``)."""
    txn_id = uuid.uuid4().hex[:12]
    touched = _ddl_touched(ops)
    attempts = 0
    while True:
        versions = catalog_versions(catalog_root)
        base = catalog_state(catalog_root, versions[-1]) if versions else {}
        if attempts > 0:
            for name in touched:
                if base_at_start.get(name) != base.get(name):
                    raise CatalogConflictError(
                        f"table {name!r} was moved by a concurrent "
                        "transaction; re-run against the new state"
                    )
        else:
            base_at_start = dict(base)
        tables = dict(base)
        _apply_ddl(tables, ops)
        try:
            return _publish_catalog(
                catalog_root, versions, tables, txn_id,
                note or f"ddl: {', '.join(o['op'] for o in ops)}",
            )
        except SnapshotConflictError:
            attempts += 1
            if attempts > retries:
                raise


def catalog_tables(
    catalog_root: str,
    namespace: str | None = None,
    catalog_version: int | None = None,
) -> dict:
    """List the bindings of a catalog version (latest when None),
    optionally restricted to one dot-namespace (``'bronze'`` matches
    ``bronze.x`` but not ``bronzeplus.x`` or bare ``bronze``)."""
    tables = catalog_state(catalog_root, catalog_version)
    if namespace is None:
        return tables
    prefix = namespace + "."
    return {n: p for n, p in tables.items() if n.startswith(prefix)}


def catalog_views(
    catalog_root: str, catalog_version: int | None = None
) -> dict:
    """The stored views of a catalog version (latest when None):
    ``name -> {"sql": ..., "tables": {alias: table_name}}``."""
    return {
        n: dict(ent["view"])
        for n, ent in catalog_state(catalog_root, catalog_version).items()
        if _is_view(ent)
    }


def catalog_mviews(
    catalog_root: str, catalog_version: int | None = None
) -> dict:
    """The materialized views of a catalog version (latest when None):
    ``name -> {"sql", "tables", "root", "version", "pins", "stale"}``.
    ``stale`` compares the recorded source pins against the SAME catalog
    version's current table pins — True when any source moved since the
    last refresh (or the mview was never refreshed)."""
    state = catalog_state(catalog_root, catalog_version)
    out: dict = {}
    for n, ent in state.items():
        if not _is_mview(ent):
            continue
        mv = dict(ent["mview"])
        cur_pins = {
            tname: [state[tname]["root"], state[tname]["version"]]
            for tname in mv["tables"].values()
            if tname in state and not _is_virtual(state[tname])
        }
        mv["stale"] = mv.get("pins") != cur_pins or mv.get("version") is None
        out[n] = mv
    return out


def catalog_refresh_mview(
    spark: SparkSession,
    catalog_root: str,
    name: str,
    retries: int = 0,
    note: str = "",
) -> dict:
    """Recompute a materialized view from its CURRENT source pins and
    flip the catalog entry in one atomic version.

    No-op (``{"refreshed": False}``) when the recorded source pins
    already match the head — refresh is idempotent and cheap to run on a
    schedule. Otherwise: register every source table pinned at the head
    catalog version (mutually consistent), run the stored SQL, commit
    the result as an OVERWRITE version of the materialized root (older
    materializations stay time-travelable until expire), and publish a
    catalog version updating the entry's ``pins``/``version``. A crash
    between the table commit and the catalog flip leaves an unpinned
    materialized version a re-run supersedes — the standard catalog
    crash contract. Concurrent refreshes race at the catalog link;
    first-writer-wins, the loser rebases (``retries``) and re-checks,
    conflicting if the entry moved.

    Refresh is a FULL recompute by design (arbitrary SQL, exactly the
    Iceberg materialized-view contract). For the incrementally-
    maintainable (count, sum)-rollup shape, point the pipeline at
    ``snapshots.snapshot_incremental_agg`` instead — change-feed IVM
    with retractions and an exactly-once applied-version stamp — and
    pin its destination as a plain catalog table."""
    from airflow_postgres_csv_spark.sources.snapshot_batch import (
        snapshot_sql_register,
    )

    versions = catalog_versions(catalog_root)
    if not versions:
        raise FileNotFoundError(f"no catalog versions at {catalog_root}")
    state = catalog_state(catalog_root, versions[-1])
    ent = state.get(name)
    if ent is None or not _is_mview(ent):
        raise KeyError(f"no materialized view {name!r} in catalog")
    mv = dict(ent["mview"])
    src_pins: dict[str, list] = {}
    for alias, tname in mv["tables"].items():
        tpin = state.get(tname)
        if tpin is None or _is_virtual(tpin):
            raise KeyError(
                f"mview {name!r}: source {tname!r} is not a table at head"
            )
        src_pins[tname] = [tpin["root"], tpin["version"]]
    if mv.get("version") is not None and mv.get("pins") == src_pins:
        return {"refreshed": False, "version": mv["version"], "pins": src_pins}
    if mv.get("incremental"):
        # change-feed IVM: apply only the source delta since the last
        # refresh, exactly up to the pinned source version(s) —
        # O(changes), never a recompute (snapshots.snapshot_incremental_
        # agg / snapshot_incremental_join_agg for the two-table shape)
        from airflow_postgres_csv_spark.operators.snapshots import (
            _load_manifest as _lm,
            snapshot_incremental_agg,
            snapshot_incremental_join_agg,
            snapshot_versions as _svs,
        )

        inc = _normalize_incremental(name, mv["incremental"])
        srcs = list(mv["tables"].values())
        if "on" in inc:
            a_name, b_name = srcs
            pa = state[a_name]["version"]
            pb = state[b_name]["version"]
            snapshot_incremental_join_agg(
                spark,
                state[a_name]["root"],
                state[b_name]["root"],
                mv["root"],
                on={l: r for l, r in inc["on"]},
                group_col=inc["group_cols"],
                amount_col=inc["amount_col"],
                up_to_a=pa,
                up_to_b=pb,
                aggs=tuple(inc["aggs"]),
            )
            want = [("ivm_applied_a", pa), ("ivm_applied_b", pb)]
        else:
            (src_name,) = srcs
            pin = state[src_name]["version"]
            snapshot_incremental_agg(
                spark,
                state[src_name]["root"],
                mv["root"],
                inc["group_cols"],
                inc["amount_col"],
                up_to=pin,
                aggs=tuple(inc["aggs"]),
            )
            want = [("ivm_applied_version", pin)]
        # Serve the dst version whose applied STAMP(S) equal the pinned
        # source version(s) — never blindly the latest: an out-of-band
        # advance (direct incremental agg past the pin, or an ivm_batch
        # sink sharing the dst) makes the agg above a no-op, and pinning
        # head would publish content AHEAD of the recorded pins. Each
        # stamp is monotone along the chain (inherited, max-guarded), so
        # the FIRST version reaching ALL pins — found by binary search,
        # O(log versions) manifest reads — is the stamping commit itself;
        # an out-of-band commit after it only inherits and is never picked.
        dvs = _svs(mv["root"])

        def _stamps(i: int) -> list:
            m = _lm(mv["root"], dvs[i])
            return [m.get(k) for k, _ in want]

        lo_i, hi_i = 0, len(dvs) - 1
        while lo_i <= hi_i:
            mid = (lo_i + hi_i) // 2
            if any(
                s is None or s < p
                for s, (_, p) in zip(_stamps(mid), want)
            ):
                lo_i = mid + 1
            else:
                hi_i = mid - 1
        served = (
            dvs[lo_i]
            if lo_i < len(dvs) and _stamps(lo_i) == [p for _, p in want]
            else None
        )
        if served is None:
            raise CatalogConflictError(
                f"mview {name!r}: destination {mv['root']!r} was advanced "
                f"out-of-band past the pinned source version(s) "
                f"{dict(want)} and no retained materialization matches; "
                "re-pin the source table (catalog_pin_tables) or refresh "
                "after the source head catches up"
            )
        m = {"version": served}
    else:
        for alias, tname in mv["tables"].items():
            snapshot_sql_register(
                spark, alias, state[tname]["root"],
                version=state[tname]["version"],
            )
        df = spark.sql(mv["sql"])
        m = snapshot_commit(df, mv["root"], mode="overwrite")
    new_mv = {**mv, "version": m["version"], "pins": src_pins}
    txn_id = uuid.uuid4().hex[:12]
    attempts = 0
    while True:
        versions = catalog_versions(catalog_root)
        base = catalog_state(catalog_root, versions[-1])
        cur = base.get(name)
        if not _is_mview(cur) or cur["mview"].get("sql") != mv["sql"]:
            raise CatalogConflictError(
                f"mview {name!r} was redefined or dropped by a concurrent "
                "transaction; re-run against the new state"
            )
        if cur["mview"].get("pins") != mv.get("pins"):
            # a concurrent refresh already landed (possibly from NEWER
            # source pins) — republishing ours would regress the entry
            raise CatalogConflictError(
                f"mview {name!r} was refreshed concurrently; re-run "
                "against the new state"
            )
        tables = dict(base)
        tables[name] = {"mview": new_mv}
        try:
            _publish_catalog(
                catalog_root, versions, tables, txn_id,
                note or f"refresh mview {name}",
            )
            return {"refreshed": True, "version": m["version"], "pins": src_pins}
        except SnapshotConflictError:
            attempts += 1
            if attempts > retries:
                raise


def catalog_txn(
    catalog_root: str,
    writes: list[dict],
    retries: int = 0,
    note: str = "",
    expect_pinned: bool = False,
    ddl: list[dict] | None = None,
) -> dict:
    """Run a multi-table transaction: each ``writes`` entry is
    ``{"name": ..., "root": ..., "df": DataFrame, ...snapshot_commit
    kwargs...}``. All table commits run first (durable, each with its own
    expectations/indexing), then ONE catalog version pins them together.
    Returns the new catalog manifest.

    Atomicity contract: catalog readers observe either every table at its
    new version or every table at its old one. A crash after some table
    commits leaves those versions unpinned (catalog unchanged) — valid
    time-travel versions a re-run simply supersedes.

    ``expect_pinned=True`` conditions every table commit on the head
    being exactly the CATALOG-pinned version (0 for a new table): a
    crash-orphaned append, or any out-of-band writer, surfaces as
    ``SnapshotConflictError`` instead of silently stacking under the
    re-run (an orphaned APPEND's files would otherwise ride into the
    retried commit's lineage — double-applied rows). Recovery: adopt the
    out-of-band version with ``catalog_pin_tables`` (or roll the table
    back and pin the rollback), then retry the transaction.
    """
    pinned = catalog_state(catalog_root) if expect_pinned else {}
    pins: dict[str, tuple[str, int]] = {}
    for w in writes:
        w = dict(w)
        name, root, df = w.pop("name"), w.pop("root"), w.pop("df")
        if expect_pinned and "expected_head" not in w:
            w["expected_head"] = pinned.get(name, {}).get("version", 0)
        manifest = snapshot_commit(df, root, **w)
        pins[name] = (root, manifest["version"])
    return catalog_pin_tables(
        catalog_root, pins, retries=retries, note=note, ddl=ddl
    )


def catalog_read(
    spark: SparkSession,
    catalog_root: str,
    name: str,
    catalog_version: int | None = None,
    as_of: int | None = None,
) -> DataFrame:
    """Read a table THROUGH the catalog: the snapshot version pinned by
    the given catalog version (latest when None) — the cross-table
    consistent view. Catalog time travel falls out: an old catalog
    version replays every table exactly as that transaction left it.
    ``as_of`` (ns timestamp) resolves the catalog version by commit time
    instead (mutually exclusive with ``catalog_version``)."""
    if as_of is not None:
        if catalog_version is not None:
            raise ValueError("pass catalog_version OR as_of, not both")
        catalog_version = catalog_version_as_of(catalog_root, as_of)
    tables = catalog_state(catalog_root, catalog_version)
    if name not in tables:
        raise KeyError(f"table {name!r} not in catalog (have {sorted(tables)})")
    pin = tables[name]
    if _is_mview(pin):
        # MATERIALIZED view: serve the materialized snapshot table at the
        # version the entry pins — possibly stale relative to the sources
        # (that is the point of materialization; check/refresh with
        # catalog_mviews / catalog_refresh_mview). Never recomputes.
        mv = pin["mview"]
        if mv.get("version") is None:
            raise RuntimeError(
                f"materialized view {name!r} has never been refreshed — "
                "run catalog_refresh_mview(spark, catalog_root, name)"
            )
        out = snapshot_read(spark, mv["root"], version=mv["version"])
        if mv.get("incremental"):
            # IVM keeps retraction-zeroed groups as n = 0 rows (the
            # exactly-once stamp rides the same commit); the view
            # surface hides them — and projects exactly the declared
            # aggregates (AVG derives from the stored total/nn, exact
            # under NULL amounts) — matching what a recompute would emit
            from pyspark.sql import functions as F

            inc = _normalize_incremental(name, mv["incremental"])
            out = out.where(F.col("n") > 0)
            sel = [F.col(k) for k in inc["group_cols"]]
            for a in inc["aggs"]:
                if a == "count":
                    sel.append(F.col("n"))
                elif a == "sum":
                    sel.append(F.col("total"))
                elif a == "avg":
                    sel.append(
                        F.when(
                            F.col("nn") > 0, F.col("total") / F.col("nn")
                        ).alias("avg")
                    )
                elif a == "min":
                    sel.append(F.col("mn"))
                elif a == "max":
                    sel.append(F.col("mx"))
            out = out.select(*sel)
        return out
    if _is_view(pin):
        # late-binding VIEW: register every referenced table pinned at
        # THIS catalog version (multi-table consistent), then run the
        # stored SQL — catalog time travel replays the view text AND the
        # table pins of its era together
        from airflow_postgres_csv_spark.sources.snapshot_batch import (
            snapshot_sql_register,
        )

        vdef = pin["view"]
        for alias, tname in vdef["tables"].items():
            tpin = tables.get(tname)
            if tpin is None or _is_view(tpin):
                raise KeyError(
                    f"view {name!r}: referenced table {tname!r} is not a "
                    "table at this catalog version"
                )
            snapshot_sql_register(
                spark, alias, tpin["root"], version=tpin["version"]
            )
        return spark.sql(vdef["sql"])
    return snapshot_read(spark, pin["root"], version=pin["version"])


def catalog_history(catalog_root: str) -> list[dict]:
    """DESCRIBE HISTORY for the catalog: one dict per catalog version
    (ascending) with the lineage and the per-version table pins —
    ``version, parent, committed_at, txn_id, note, tables``. Strictly
    increasing ``committed_at`` stamps make AS-OF resolution total, the
    same contract as the per-table manifests."""
    return [
        _load_catalog(catalog_root, v) for v in catalog_versions(catalog_root)
    ]


def catalog_version_as_of(catalog_root: str, ts_ns: int) -> int:
    """AS-OF-timestamp resolution: the newest catalog version whose
    ``committed_at`` is <= ``ts_ns``. Total because the stamps are forced
    strictly increasing (same contract as the per-table manifests)."""
    best = None
    for v in catalog_versions(catalog_root):
        if _load_catalog(catalog_root, v)["committed_at"] <= ts_ns:
            best = v
    if best is None:
        raise ValueError(
            f"no catalog version committed at or before {ts_ns}"
        )
    return best


def catalog_expire(catalog_root: str, keep_last: int = 10) -> dict:
    """Retention for catalog versions: delete all but the newest
    ``keep_last`` catalog JSONs (the catalog equivalent of
    ``snapshot_expire``'s manifest retention). Table data/manifests are
    NOT touched — per-table GC stays ``snapshot_expire``'s job, and a
    table version that an expired catalog version pinned remains
    readable directly until its own table retention collects it.
    Returns ``{"removed": [versions...], "kept": [versions...]}``."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the head is never expired)")
    versions = catalog_versions(catalog_root)
    cut = versions[:-keep_last] if len(versions) > keep_last else []
    for v in cut:
        os.unlink(_catalog_path(catalog_root, v))
    return {"removed": cut, "kept": versions[len(cut):]}


def catalog_write_audit_publish(
    spark: SparkSession,
    catalog_root: str,
    writes: list[dict],
    audits: dict | None = None,
    cross_audits: dict | None = None,
    retries: int = 0,
    note: str = "",
    expect_pinned: bool = False,
    branch: str | None = None,
    ddl: list[dict] | None = None,
) -> dict:
    """MULTI-TABLE write-audit-publish: the catalog-level completion of
    ``operators/branches.py::write_audit_publish``. ``ddl`` ops ride the
    final catalog flip (``catalog_pin_tables`` shapes) — the
    write-audit-promote pattern: stage + audit under a scratch name,
    rename over the live name in the SAME atomic version.

    Every ``writes`` entry (``{"name", "root", "df", ...snapshot_commit
    kwargs}``) stages on a branch of ITS table — no table root is
    touched. Then two audit layers run over the staged would-be states:
    ``audits[name]`` are per-table ``run_audits`` mappings against that
    table's branch head, and ``cross_audits`` maps audit name ->
    ``callable(dict[name, DataFrame]) -> bool`` over ALL staged states
    together (the referential-integrity / rollup-consistency checks a
    single-table WAP cannot express). Only if everything passes are the
    branches fast-forward-published to their table roots and the catalog
    pins flipped in ONE atomic link — catalog readers observe every
    table at its audited version or none of them. On any failure
    ``AuditError`` lists ``table:audit`` names and EVERY table keeps its
    staged branch (a mutually-consistent cross-table triage snapshot).

    Crash contract: a crash between branch publishes leaves some table
    roots advanced but UNPINNED — invisible through the catalog, and a
    re-run supersedes them (``catalog_txn``'s documented orphan story;
    ``expect_pinned=True`` makes the re-run surface them loudly by
    checking each fork point against the catalog pin).

    ``branch`` defaults to a fresh ``wap-<hex>`` per attempt so
    concurrent invocations over overlapping tables never clobber each
    other's in-flight staged branches; failed attempts retain their
    uniquely-named triage branches until dropped or GC'd. Passing an
    explicit name opts into deterministic-retry semantics: a leftover
    branch of that name from a crashed/failed attempt is dropped and
    re-staged — safe because an unstamped catalog proves the attempt
    never published (callers own the no-concurrent-same-name contract).
    """
    from airflow_postgres_csv_spark.operators import branches as B
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_versions,
    )

    audits = audits or {}
    named_retry = branch is not None
    branch = branch or f"wap-{uuid.uuid4().hex[:8]}"
    pinned = catalog_state(catalog_root) if expect_pinned else {}
    staged: dict[str, DataFrame] = {}
    roots: dict[str, str] = {}
    for w in writes:
        w = dict(w)
        name, root, df = w.pop("name"), w.pop("root"), w.pop("df")
        if expect_pinned:
            head = (snapshot_versions(root) or [0])[-1]
            want = pinned.get(name, {}).get("version", 0)
            if head != want:
                raise SnapshotConflictError(
                    f"table {name!r} is at version {head} but the catalog "
                    f"pins {want} — an out-of-band or crash-orphaned "
                    "commit; adopt it with catalog_pin_tables (or roll "
                    "back) before re-running the transaction"
                )
        if named_retry and branch in B.snapshot_branches(root):
            B.snapshot_drop_branch(root, branch)
        broot = B.snapshot_branch(root, branch)
        snapshot_commit(df, broot, **w)
        staged[name] = snapshot_read(spark, broot)
        roots[name] = root
    failed = []
    for name, table_audits in audits.items():
        if name not in staged:
            raise KeyError(f"audits name {name!r} not among writes")
        failed.extend(
            f"{name}:{a}" for a in B.run_audits(staged[name], table_audits)
        )
    for aname, fn in (cross_audits or {}).items():
        if not bool(fn(staged)):
            failed.append(f"*:{aname}")
    if failed:
        raise B.AuditError(branch, failed)
    pins: dict[str, tuple[str, int]] = {}
    for name, root in roots.items():
        m = B.snapshot_publish_branch(root, branch)
        pins[name] = (root, m["version"])
    return catalog_pin_tables(
        catalog_root, pins, retries=retries, note=note, ddl=ddl
    )


# ---------------------------------------------------------------------------
# CATALOG-LEVEL BRANCHES (Nessie / Iceberg-branching at the catalog
# pointer): fork the WHOLE catalog, stage a multi-table experiment on it
# (each touched table forks a per-table branch lazily), audit, and
# publish everything back as ONE atomic catalog flip. The capstone of
# the per-table branch (operators/branches.py) + multi-table catalog
# (above) halves: per-table branches give cheap isolated staging,
# the catalog pointer gives all-or-nothing cross-table visibility.
# ---------------------------------------------------------------------------

_CAT_BRANCH_DIR = "_catbranches"


def _branch_catalog_root(catalog_root: str, name: str) -> str:
    if not name or "/" in name or os.sep in name or name.startswith("."):
        raise ValueError(f"invalid catalog branch name {name!r}")
    return os.path.join(catalog_root, _CAT_BRANCH_DIR, name)


def _table_branch_name(branch: str) -> str:
    return f"catb-{branch}"


def catalog_branch(catalog_root: str, name: str) -> str:
    """Fork the catalog POINTER: the branch is itself a catalog whose
    version 1 clones the main head's pins verbatim (O(tables) metadata,
    zero table I/O — no table forks until a branch write touches one).
    Reads through the branch (``catalog_read(spark, branch_root, t)``)
    see the fork-point world; main is never affected until
    ``catalog_publish_branch``. Returns the branch catalog root."""
    versions = catalog_versions(catalog_root)
    if not versions:
        raise FileNotFoundError(f"no catalog versions at {catalog_root}")
    broot = _branch_catalog_root(catalog_root, name)
    if catalog_versions(broot):
        raise FileExistsError(f"catalog branch {name!r} already exists")
    head = versions[-1]
    _publish_catalog(
        broot,
        [],
        dict(catalog_state(catalog_root, head)),
        uuid.uuid4().hex[:12],
        f"branched from catalog v{head}",
        extra={"branched_from": {"root": os.path.abspath(catalog_root),
                                 "version": head}},
    )
    return broot


def catalog_branches(catalog_root: str) -> dict[str, dict]:
    """Live catalog branches: name -> {base (main catalog version forked
    from), head (branch catalog head version), root}."""
    bdir = os.path.join(catalog_root, _CAT_BRANCH_DIR)
    out: dict[str, dict] = {}
    if not os.path.isdir(bdir):
        return out
    for name in sorted(os.listdir(bdir)):
        broot = os.path.join(bdir, name)
        versions = catalog_versions(broot)
        if not versions:
            continue
        base = _load_catalog(broot, versions[0]).get("branched_from", {})
        out[name] = {
            "base": base.get("version"),
            "head": versions[-1],
            "root": broot,
        }
    return out


def catalog_drop_branch(catalog_root: str, name: str) -> None:
    """Drop a catalog branch: its pointer directory AND every per-table
    branch it forked (hardlinked data shared with the real tables
    survives — only the branch names are unlinked)."""
    import shutil

    from airflow_postgres_csv_spark.operators import branches as B

    broot = _branch_catalog_root(catalog_root, name)
    versions = catalog_versions(broot)
    if versions:
        tb = _table_branch_name(name)
        for pin in catalog_state(broot).values():
            if _is_virtual(pin):  # views/mviews fork no table branches
                continue
            # audit-failed first writes fork a table branch without ever
            # advancing the catalog pin (no base_root) — clean those too
            base_root = pin.get("base_root", pin["root"])
            if tb in B.snapshot_branches(base_root):
                B.snapshot_drop_branch(base_root, tb)
    shutil.rmtree(broot)


def catalog_branch_write(
    spark: SparkSession,
    catalog_root: str,
    branch: str,
    writes: list[dict],
    audits: dict | None = None,
    cross_audits: dict | None = None,
    note: str = "",
) -> dict:
    """Stage a multi-table transaction ON a catalog branch: each
    ``writes`` entry (``{"name", "df", ...snapshot_commit kwargs}`` —
    the table must be pinned in the branch catalog) lazily forks a
    per-table branch from the table's FORK-POINT pinned version, commits
    to it, and flips the BRANCH catalog's pin to the table-branch head —
    so reads through the branch catalog see every staged statement,
    mutually consistent, while main and the real table roots are
    untouched.

    ``audits`` / ``cross_audits`` (``catalog_write_audit_publish``
    shapes) gate over the staged would-be states; on failure
    ``AuditError`` is raised, the BRANCH CATALOG pins are NOT advanced,
    and each staged table branch is ROLLED BACK to its pre-write state
    (a forward rollback commit — the offending rows stay time-travelable
    on the branch for triage but never pollute later branch writes)."""
    from airflow_postgres_csv_spark.operators import branches as B
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_rollback,
        snapshot_versions,
    )

    broot_cat = _branch_catalog_root(catalog_root, branch)
    if not catalog_versions(broot_cat):
        raise FileNotFoundError(f"no catalog branch {branch!r}")
    state = catalog_state(broot_cat)
    tb = _table_branch_name(branch)
    staged: dict[str, DataFrame] = {}
    new_pins: dict[str, dict] = {}
    pre_heads: dict[str, tuple[str, int]] = {}
    audits = audits or {}
    for w in writes:
        w = dict(w)
        name, df = w.pop("name"), w.pop("df")
        pin = state.get(name)
        if pin is None:
            raise KeyError(
                f"table {name!r} not pinned by catalog branch {branch!r} "
                f"(have {sorted(state)}); register it on main first"
            )
        if _is_virtual(pin):
            raise ValueError(
                f"{name!r} is a view — write to its base tables instead"
            )
        base_root = pin.get("base_root", pin["root"])
        base_version = pin.get("base_version", pin["version"])
        if "base_root" not in pin:
            existing = B.snapshot_branches(base_root).get(tb)
            if existing is not None and existing["base"] != base_version:
                # a leftover catb- branch from a PRIOR same-named catalog
                # branch: its fork point predates our pin — reusing it
                # would stage on stale state. (A fork at OUR pin is this
                # catalog branch's own audit-failed attempt — reuse keeps
                # its rolled-back triage history.)
                B.snapshot_drop_branch(base_root, tb)
        if tb not in B.snapshot_branches(base_root):
            B.snapshot_branch(base_root, tb, version=base_version)
        tbroot = B._branch_root(base_root, tb)
        pre_heads.setdefault(name, (tbroot, snapshot_versions(tbroot)[-1]))
        m = snapshot_commit(df, tbroot, **w)
        staged[name] = snapshot_read(spark, tbroot)
        new_pins[name] = {
            "root": tbroot,
            "version": m["version"],
            "base_root": os.path.abspath(base_root),
            "base_version": base_version,
        }
    failed = []
    for name, table_audits in audits.items():
        if name not in staged:
            raise KeyError(f"audits name {name!r} not among writes")
        failed.extend(
            f"{name}:{a}" for a in B.run_audits(staged[name], table_audits)
        )
    for aname, fn in (cross_audits or {}).items():
        full = dict(staged)
        if not bool(fn(full)):
            failed.append(f"*:{aname}")
    if failed:
        for name, (tbroot, pre_v) in pre_heads.items():
            snapshot_rollback(spark, tbroot, pre_v)
        raise B.AuditError(branch, failed)
    tables = dict(state)
    tables.update(new_pins)
    versions = catalog_versions(broot_cat)
    return _publish_catalog(
        broot_cat, versions, tables, uuid.uuid4().hex[:12],
        note or f"branch write ({', '.join(sorted(new_pins))})",
    )


def catalog_publish_branch(
    catalog_root: str, name: str, retries: int = 0, note: str = ""
) -> dict:
    """Publish a catalog branch back to main as ONE atomic catalog flip
    (all-or-nothing cross-table visibility):

    1. conflict check — every table the branch TOUCHED must still carry
       its fork-point pin on main's head (first-committer-wins across
       catalog branches; ``CatalogConflictError`` otherwise, branch
       retained for rebase/triage). Tables the branch never touched
       follow main freely (snapshot isolation: main's concurrent moves
       of OTHER tables carry forward under the flip).
    2. each touched table's per-table branch fast-forward-publishes to
       its real root (one manifest link per table);
    3. one ``catalog_pin_tables`` flips every touched pin together. A
       crash between 2 and 3 leaves table versions UNPINNED — invisible
       through the catalog, superseded by a re-publish (the catalog
       crash contract).

    The branch is consumed on success."""
    import shutil

    from airflow_postgres_csv_spark.operators import branches as B

    broot_cat = _branch_catalog_root(catalog_root, name)
    bversions = catalog_versions(broot_cat)
    if not bversions:
        raise FileNotFoundError(f"no catalog branch {name!r}")
    fork = _load_catalog(broot_cat, bversions[0])
    cur = catalog_state(broot_cat)
    head_state = catalog_state(catalog_root)
    touched = {n: p for n, p in cur.items() if "base_root" in p}
    # materialized-view changes staged on the branch (create / refresh /
    # drop DDL against the branch catalog) publish in the SAME atomic
    # flip as the table pins — first-committer-wins per name, and a
    # refreshed mview must pin the BRANCH HEAD of every source (the
    # staleness re-check: publishing an mview refreshed before a later
    # branch write would expose a stale materialization as fresh). Pins
    # that reference per-table branch roots are translated to the
    # published (real-root, version) pins after the fast-forwards.
    fork_mv = {n: e for n, e in fork["tables"].items() if _is_mview(e)}
    cur_mv = {n: e for n, e in cur.items() if _is_mview(e)}
    mv_changed = sorted(
        n
        for n in set(fork_mv) | set(cur_mv)
        if fork_mv.get(n) != cur_mv.get(n)
    )
    mv_stage: list[tuple[str, dict | None]] = []  # (name, entry|None=drop)
    for n in mv_changed:
        if head_state.get(n) != fork_mv.get(n):
            raise CatalogConflictError(
                f"catalog branch {name!r}: materialized view {n!r} moved "
                "on main since the fork; rebase the branch or re-run "
                "against the new state"
            )
        c = cur_mv.get(n)
        if c is None:
            mv_stage.append((n, None))
            continue
        mv = dict(c["mview"])
        if mv.get("pins"):
            for tname, pin in mv["pins"].items():
                bpin = cur.get(tname)
                if (
                    bpin is None
                    or _is_virtual(bpin)
                    or [bpin["root"], bpin["version"]] != list(pin)
                ):
                    raise CatalogConflictError(
                        f"catalog branch {name!r}: materialized view {n!r} "
                        f"is STALE on the branch (source {tname!r} moved "
                        "after its refresh) — refresh it on the branch, "
                        "then publish"
                    )
        mv_stage.append((n, mv))
    fork_views = {n: e for n, e in fork["tables"].items() if _is_view(e)}
    cur_views = {n: e for n, e in cur.items() if _is_view(e)}
    vddl: list[dict] = []
    for n in sorted(set(fork_views) | set(cur_views)):
        f, c = fork_views.get(n), cur_views.get(n)
        if f == c:
            continue
        if head_state.get(n) != f:
            raise CatalogConflictError(
                f"catalog branch {name!r}: view {n!r} moved on main since "
                f"the fork; rebase the branch or re-run against the new state"
            )
        if c is None:
            vddl.append({"op": "drop_view", "name": n})
        elif f is None:
            vddl.append({"op": "create_view", "name": n, **c["view"]})
        else:
            vddl.append({"op": "replace_view", "name": n, **c["view"]})
    def _mv_ops(published: dict[str, tuple[str, int]]) -> list[dict]:
        # translate staged mview pins from branch-table coordinates to
        # the just-published (real root, version) pins
        ops: list[dict] = []
        for n, mv in mv_stage:
            if mv is None:
                ops.append({"op": "drop_mview", "name": n})
                continue
            if mv.get("pins"):
                mv = dict(mv)
                mv["pins"] = {
                    t: list(published.get(t) or pin)
                    for t, pin in mv["pins"].items()
                }
            ops.append({"op": "set_mview", "name": n, "mview": mv})
        return ops

    if not touched and not vddl and not mv_stage:
        shutil.rmtree(broot_cat)
        return _load_catalog(
            catalog_root, catalog_versions(catalog_root)[-1]
        )
    for n in touched:
        fork_pin = fork["tables"].get(n)
        now_pin = head_state.get(n)
        if fork_pin != now_pin:
            raise CatalogConflictError(
                f"catalog branch {name!r}: table {n!r} moved on main since "
                f"the fork ({fork_pin} -> {now_pin}); rebase the branch or "
                "re-run against the new state"
            )
    if not touched:
        out = catalog_ddl(
            catalog_root, vddl + _mv_ops({}),
            note=note or f"publish catalog branch {name} (views)",
        )
        shutil.rmtree(broot_cat)
        return out
    pins: dict[str, tuple[str, int]] = {}
    tb = _table_branch_name(name)
    for n, p in touched.items():
        m = B.snapshot_publish_branch(p["base_root"], tb)
        pins[n] = (p["base_root"], m["version"])
    ddl = vddl + _mv_ops(pins)
    out = catalog_pin_tables(
        catalog_root, pins, retries=retries, ddl=ddl or None,
        note=note or f"publish catalog branch {name}",
    )
    shutil.rmtree(broot_cat)
    return out


def catalog_vacuum(
    catalog_root: str,
    older_than_ns: int | None = None,
    dry_run: bool = False,
) -> dict:
    """Orphan-file GC for a WHOLE catalog: ``snapshot_vacuum`` every
    table the catalog head pins (each table keeps all its versions, so
    older catalog pins stay readable), aggregate the storage reclaimed,
    and REPORT catalog branches whose head predates the safety window —
    the fleet-level sweep a platform runs nightly instead of N per-table
    crons. Stale branches are reported, never auto-dropped: a branch is
    someone's in-flight experiment until its owner says otherwise
    (``catalog_drop_branch`` is one call away)."""
    import time as _time

    from airflow_postgres_csv_spark.operators.snapshots import (
        _load_manifest as _load_table_manifest,
    )
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_vacuum,
    )

    if older_than_ns is None:
        older_than_ns = _time.time_ns() - 7 * 86400 * 10**9
    per_table: dict[str, dict] = {}
    removed_files = removed_bytes = 0
    seen_roots: set[str] = set()
    for name, pin in sorted(catalog_state(catalog_root).items()):
        if _is_view(pin):  # views pin no files
            continue
        if _is_mview(pin):  # the materialized table is a real root
            if pin["mview"].get("version") is None:
                continue  # never refreshed: nothing on disk yet
            pin = {"root": pin["mview"]["root"]}
        root = pin["root"]
        if root in seen_roots:  # two names may pin one root (rename DDL)
            continue
        seen_roots.add(root)
        r = snapshot_vacuum(root, older_than_ns=older_than_ns, dry_run=dry_run)
        per_table[name] = r
        removed_files += r["removed_files"]
        removed_bytes += r["removed_bytes"]
    stale_branches = []
    for bname, info in catalog_branches(catalog_root).items():
        head_m = _load_catalog(info["root"], info["head"])
        if head_m.get("committed_at", 0) < older_than_ns:
            stale_branches.append(bname)
    return {
        "tables": per_table,
        "removed_files": removed_files,
        "removed_bytes": removed_bytes,
        "stale_branches": stale_branches,
        "dry_run": dry_run,
    }
