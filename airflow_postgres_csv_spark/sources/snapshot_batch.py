"""Snapshot tables behind Spark's two read surfaces: the
``snapshot_table`` batch data source and SQL views for raw ``spark.sql``
text.

``spark.read.format("snapshot_table").load(root)`` is the explicit
Python Data Source (Spark 4.1). Spark's planner hands the WHERE clause's
conjuncts to ``pushFilters``; the source intersects them into per-column
ranges, and ``partitions()`` plans the file set through the SAME
hierarchical pruning the operators use (commit-level ranges from the root
manifest → per-file zone maps from the sidecars of surviving commits →
per-file Bloom probes for equality predicates on indexed columns).
Pruning is file-granular, so EVERY pushed filter is also returned to
Spark for post-scan evaluation — a false-positive file costs a scan,
never a wrong row. Executors read surviving files with pyarrow, align
each file to the version's pinned schema (default-fill for added columns,
cast for widened ones, rename lineage) and apply the manifest's
merge-on-read tombstones as Arrow masks. ``df.write.format(
"snapshot_table")`` stages one parquet file per task and publishes them
through the same atomic manifest link as the operator API.

``snapshot_sql_register`` names a snapshot (or catalog-pinned) table in
``spark.sql`` text. Its view is the NATIVE pinned scan
(``snapshots._read_pinned``: the JVM vectorized parquet reader,
tombstones as broadcast anti-joins) — no Python worker reads a row. File
pruning for SQL text comes from Catalyst: a ``spark.sql`` hook reads the
filters Catalyst pushed into each parquet scan of a registered view,
plans them through ``_plan_scan`` and the Bloom probes, and re-plans the
statement once over the union of the files its scans of that view keep.

Scale: planning stays driver-side and O(root manifest + surviving
sidecars) on both surfaces, exactly like the operator path.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from airflow_postgres_csv_spark.operators import snapshots as S

__all__ = [
    "SnapshotTableDataSource",
    "register_snapshot_table",
    "snapshot_sql_register",
    "snapshot_sql_unregister",
]

_INF = float("inf")


class SnapshotBatchPartition(InputPartition):
    """One surviving data file, self-contained and picklable."""

    def __init__(
        self,
        path: str,
        rel: str,
        written_schema_json: str,
        table_schema_json: str,
        defaults_json: str,
        tomb_specs_json: str,
        history_json: str = "{}",
    ):
        self.path = path
        self.rel = rel
        self.written_schema_json = written_schema_json
        self.table_schema_json = table_schema_json
        self.defaults_json = defaults_json
        self.tomb_specs_json = tomb_specs_json
        self.history_json = history_json


def _local_root(root: str) -> str:
    """SQL DDL (CREATE TABLE ... USING snapshot_table) normalizes the
    path option to a file: URI; the manifest layer wants a plain local
    path."""
    if root.startswith("file:"):
        from urllib.parse import unquote, urlparse

        root = unquote(urlparse(root).path)
    return root


def _resolve_table(options: dict) -> tuple[str, int | None]:
    """Resolve ``(table_root, pinned_version)`` from the reader options.

    Two addressing modes:

    - direct: ``load(root)`` (+ optional ``option("version", int|tag)``);
    - THROUGH A CATALOG (operators/catalog_txn.py):
      ``option("catalog", catalog_root).option("table", name)`` — the
      snapshot version comes from the catalog pin, so multi-table reads
      in one query see one transaction's mutually-consistent world;
      ``option("catalogVersion", N)`` time-travels the catalog itself
      (resolution is per catalog version, so renamed/dropped names of
      that era resolve exactly as the transaction left them).
    """
    cat = options.get("catalog")
    if cat:
        name = options.get("table")
        if not name:
            raise ValueError(
                "snapshot_table: option('catalog', ...) requires "
                "option('table', <name>)"
            )
        cv = options.get("catalogversion") or options.get("catalog_version")
        if isinstance(cv, str) and cv.lstrip("-").isdigit():
            cv = int(cv)
        from airflow_postgres_csv_spark.operators.catalog_txn import (
            catalog_state,
        )

        tables = catalog_state(cat, cv)
        if name not in tables:
            raise KeyError(
                f"table {name!r} not in catalog {cat} "
                f"(have {sorted(tables)})"
            )
        pin = tables[name]
        if "mview" in pin:
            mv = pin["mview"]
            if mv.get("version") is None:
                raise ValueError(
                    f"materialized view {name!r} has never been refreshed"
                )
            if mv.get("incremental"):
                raise ValueError(
                    f"{name!r} is an INCREMENTAL materialized view — read "
                    "it with catalog_read / snapshot_sql_register, which "
                    "hide the IVM's retraction-zeroed groups"
                )
            return mv["root"], int(mv["version"])
        if "view" in pin:
            raise ValueError(
                f"{name!r} is a catalog VIEW — read it with "
                "catalog_read(spark, catalog_root, name), which resolves "
                "the stored SQL over the version's table pins"
            )
        return pin["root"], int(pin["version"])
    root = options.get("path") or options.get("root")
    if not root:
        raise ValueError(
            "snapshot_table requires a path (load(root)) or a catalog/table "
            "option pair"
        )
    root = _local_root(root)
    if branch := options.get("branch"):
        # a branch IS a root (operators/branches.py) — resolve the name
        # so WAP quarantine triage and in-flight branch state are
        # readable through the same pruned scan path (and through SQL
        # via snapshot_sql_register)
        from airflow_postgres_csv_spark.operators.branches import (
            _branch_root,
        )

        root = _branch_root(root, branch)
    v = options.get("version")
    if isinstance(v, str) and v.lstrip("-").isdigit():
        v = int(v)  # DataFrameReader options always arrive as strings
    return root, S.resolve_version(root, v)


def _tighten(rng: tuple, lo, hi) -> tuple:
    """Intersect [lo, hi] into the accumulated range, keeping the old
    bound when the pair is incomparable (conservative, never wrong)."""
    clo, chi = rng
    try:
        if clo == -_INF or lo > clo:
            clo = lo
    except TypeError:
        pass
    try:
        if chi == _INF or hi < chi:
            chi = hi
    except TypeError:
        pass
    return (clo, chi)


def _filter_ranges(filters, cols=None) -> tuple[dict, list]:
    """Intersect the usable conjuncts (``=``, ``<``, ``<=``, ``>``, ``>=``,
    ``IN`` on one top-level column, restricted to ``cols`` when given)
    into per-column ranges, plus the equality pairs the Bloom probes take.
    Other filters contribute nothing — pruning only ever narrows."""
    ranges: dict[str, tuple] = {}
    eq: list[tuple[str, object]] = []
    for f in filters:
        attr = getattr(f, "attribute", None)
        col = attr[0] if attr and len(attr) == 1 else None
        if col is None or (cols is not None and col not in cols):
            continue
        if isinstance(f, EqualTo):
            lo = hi = f.value
            eq.append((col, f.value))
        elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
            lo, hi = f.value, _INF
        elif isinstance(f, (LessThan, LessThanOrEqual)):
            lo, hi = -_INF, f.value
        elif isinstance(f, In) and f.value:
            try:
                lo, hi = min(f.value), max(f.value)
            except TypeError:
                continue
        else:
            continue
        ranges[col] = _tighten(ranges.get(col, (-_INF, _INF)), lo, hi)
    return ranges, eq


def _planned_files(root: str, m: dict, ranges: dict, eq: list) -> list[str]:
    """The pinned files of manifest ``m`` that can hold a row matching
    ``ranges`` and the ``eq`` pairs: ``_plan_scan``'s commit-range and
    zone-map pruning, then a Bloom probe per equality on an indexed
    column (one sidecar read per surviving commit, not per file)."""
    if ranges:
        kept = S._plan_scan(root, m, ranges)["kept_files"]
    else:
        kept = list(m["files"])
    cfg = m.get("bloom") or {}
    probes = [(c, v) for c, v in eq if c in cfg.get("cols", [])]
    if not probes:
        return kept
    out = []
    sidecars: dict[str, dict] = {}
    for rel in kept:
        cid = S._commit_of(rel)
        if cid not in sidecars:
            sidecars[cid] = S._load_sidecar(root, m, cid)
        blooms = sidecars[cid].get("blooms", {}).get(rel, {})
        drop = False
        for c, v in probes:
            words = blooms.get(c)
            try:
                if words is not None and not S._bloom_might_contain(
                    words, v, cfg["m"], cfg["k"]
                ):
                    drop = True
                    break
            except (TypeError, ValueError):
                pass  # unprobeable key type: keep the file
        if not drop:
            out.append(rel)
    return out


def _pinned_manifest(options: dict) -> tuple[str, dict]:
    """``(table_root, manifest)`` of the version the options address
    (latest when unpinned)."""
    root, version = _resolve_table(options)
    if version is None:
        versions = S.snapshot_versions(root)
        if not versions:
            raise FileNotFoundError(f"no snapshot versions at {root}")
        version = versions[-1]
    return root, S._load_manifest(root, version)


class SnapshotBatchReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        # option("pushdown", "false"): plan the FULL pinned file list
        # regardless of pushed filters. Spark's Python-data-source scan
        # cache (PythonDataSourceV2.readInfo, Spark 4.1) is keyed per
        # RELATION, not per query's pushed filters — a relation reused
        # across queries (a saved DataFrame) serves every later
        # filterless plan whatever partition list the LAST pushdown
        # computed, silently dropping files. Disabling partition pruning
        # makes every cached plan identical (the full list), so reuse is
        # always exact; Spark still re-evaluates all filters row-level.
        self._pushdown = str(options.get("pushdown", "true")).lower() != "false"
        self._root, self._manifest = _pinned_manifest(options)
        # predicate state accumulated by pushFilters
        self._ranges: dict[str, tuple] = {}
        self._eq: list[tuple[str, object]] = []

    # -- planning ----------------------------------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        # REPLACE, never accumulate: the engine hands each planning pass
        # its complete conjunct set, and the reader instance OUTLIVES one
        # query — Spark caches the relation (and its planner-worker twin)
        # across every query over a saved DataFrame. Accumulated state
        # would intersect one query's ranges into the next query's scan
        # and silently drop rows.
        self._ranges, self._eq = {}, []
        if self._pushdown:
            self._ranges, self._eq = _filter_ranges(
                filters, {f.name for f in self._schema().fields}
            )
        # file-granular pruning only: Spark must still evaluate every
        # filter on the survivors' rows
        yield from filters

    def _schema(self) -> StructType:
        return StructType.fromJson(json.loads(self._manifest["schema"]))

    def planned_files(self) -> list[str]:
        """The surviving file list (exposed for tests / introspection)."""
        return _planned_files(self._root, self._manifest, self._ranges, self._eq)

    def partitions(self) -> list[SnapshotBatchPartition]:
        m = self._manifest
        commit_schemas = m.get("commit_schemas", {})
        tombs = m.get("tombstones", [])
        parts = []
        planned = self.planned_files()
        # consume the pushed predicates: a filterless re-plan of the same
        # cached reader (pushFilters is only invoked when the query HAS
        # filters) must fall back to the full pinned file list, not prune
        # by the previous query's ranges
        self._ranges = {}
        self._eq = []
        for rel in planned:
            cid = S._commit_of(rel)
            specs = []
            for t in tombs:
                if not S._tombstone_applies(t, cid, rel):
                    continue
                specs.append(
                    {
                        "kind": t.get("kind", "equality"),
                        "key_col": t.get("key_col"),
                        "delete_files": [
                            os.path.join(self._root, f) for f in t["files"]
                        ],
                    }
                )
            parts.append(
                SnapshotBatchPartition(
                    path=os.path.join(self._root, rel),
                    rel=rel,
                    written_schema_json=commit_schemas.get(cid, m["schema"]),
                    table_schema_json=m["schema"],
                    defaults_json=json.dumps(m.get("defaults", {})),
                    tomb_specs_json=json.dumps(specs),
                    history_json=json.dumps(m.get("column_history", {})),
                )
            )
        return parts

    # -- execution ---------------------------------------------------------
    def read(self, partition: SnapshotBatchPartition):
        if partition is None:
            # partitions() pruned every file: the engine still schedules one
            # task with a None partition — an empty scan, not an error
            return
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        from airflow_postgres_csv_spark.operators.snapshots import (
            _written_name,
        )

        table_schema = StructType.fromJson(
            json.loads(partition.table_schema_json)
        )
        target = to_arrow_schema(table_schema)
        written = {
            f.name
            for f in StructType.fromJson(
                json.loads(partition.written_schema_json)
            ).fields
        }
        defaults = json.loads(partition.defaults_json)
        history = json.loads(partition.history_json)
        # ALTER RENAME lineage: a pre-rename file stores the old physical
        # name — resolve each target column to the name this file carries
        src_of = {
            f.name: _written_name(f.name, written, history) for f in target
        }
        tbl = pq.read_table(
            partition.path,
            columns=[s for s in src_of.values() if s is not None],
        )
        n = tbl.num_rows
        arrays = []
        for f in target:
            src = src_of[f.name]
            if src is not None:
                arrays.append(tbl.column(src).cast(f.type))
            else:
                arrays.append(pa.array([defaults.get(f.name)] * n, type=f.type))
        aligned = pa.table(arrays, schema=target)
        # every spec's mask indexes the UNFILTERED file: a positional
        # delete addresses the row's position in the file, which a
        # filter applied by an earlier spec would shift
        drop = None
        for spec in json.loads(partition.tomb_specs_json):
            if spec["kind"] == "positional":
                pos_tbl = pa.concat_tables(
                    [pq.read_table(f) for f in spec["delete_files"]]
                )
                mine = pos_tbl.filter(
                    pc.equal(pos_tbl["file"], partition.rel)
                )["pos"]
                idx = pa.array(range(aligned.num_rows), type=pa.int64())
                mask = pc.is_in(idx, value_set=mine.combine_chunks())
            else:
                key = spec["key_col"]
                keys = pa.concat_tables(
                    [pq.read_table(f, columns=[key]) for f in spec["delete_files"]]
                )[key]
                # `aligned` already carries CURRENT names, so the (current)
                # tombstone key column addresses it directly
                col = aligned[key]
                mask = pc.is_in(
                    col, value_set=keys.combine_chunks().cast(col.type)
                )
            drop = mask if drop is None else pc.or_(drop, mask)
        if drop is not None:
            aligned = aligned.filter(pc.invert(drop))
        yield from aligned.to_batches()


class SnapshotWriteMessage(WriterCommitMessage):
    def __init__(self, rels: list[str]):
        self.rels = rels


class SnapshotBatchWriter(DataSourceArrowWriter):
    """Executor-side Arrow writer + driver-side manifest commit.

    Each task streams its Arrow batches straight into one parquet file
    under the commit's immutable staging dir (``data/<commit_id>/``) —
    no driver round trip, no extra shuffle. The driver then publishes
    the staged file list through ``snapshot_commit_staged``: the SAME
    single atomic-link commit point as the operator API, so a crashed or
    aborted write leaves only an orphan dir for ``snapshot_expire`` and
    readers never observe a partial write. ``mode("append")`` requires
    the staged schema to match the table's; ``mode("overwrite")``
    replaces the pinned file list (history stays time-travelable)."""

    def __init__(self, root: str, schema: StructType, overwrite: bool):
        import uuid

        from pyspark.sql.types import StructField

        self._root = root
        # same nullability normalization (and exact json rendering) as the
        # manifest's pinned schema — the drift check compares strings
        self._schema_json = StructType(
            [StructField(f.name, f.dataType, True) for f in schema.fields]
        ).json()
        self._overwrite = overwrite
        self._commit_id = uuid.uuid4().hex[:12]
        # declared table constraints, captured at plan time from the
        # latest manifest: each TASK validates its own in-memory Arrow
        # batches before writing a byte (distributed, zero extra I/O) —
        # the only enforcement point reachable from this session-less
        # Python-data-source path
        versions = S.snapshot_versions(root)
        self._constraints = sorted(
            (
                (S._load_manifest(root, versions[-1]).get("constraints") or {})
                if versions
                else {}
            ).items()
        )

    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = list(iterator)
        if not batches or sum(b.num_rows for b in batches) == 0:
            return SnapshotWriteMessage([])  # empty task: no file
        table = pa.Table.from_batches(batches)
        if self._constraints:
            import duckdb

            con = duckdb.connect()
            try:
                con.register("__staged", table)
                selects = ", ".join(
                    f"SUM(CASE WHEN NOT coalesce(({cond}), false) "
                    "THEN 1 ELSE 0 END)"
                    for _, cond in self._constraints
                )
                row = con.execute(
                    f"SELECT {selects} FROM __staged"
                ).fetchone()
            finally:
                con.close()
            violations = {
                name: int(row[i])
                for i, (name, _) in enumerate(self._constraints)
                if row[i]
            }
            if violations:
                raise ValueError(
                    f"snapshot write rejected by declared constraints: "
                    f"{violations}"
                )
        staging = os.path.join(self._root, "data", self._commit_id)
        os.makedirs(staging, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        pq.write_table(table, os.path.join(staging, name))
        return SnapshotWriteMessage([os.path.join("data", self._commit_id, name)])

    def commit(self, messages):
        rels = sorted(rel for m in messages if m for rel in m.rels)
        S.snapshot_commit_staged(
            self._root,
            self._commit_id,
            rels,
            self._schema_json,
            mode="overwrite" if self._overwrite else "append",
            retries=3,
            # every task checked exactly these rules over its in-memory
            # batches at write(); rules declared since plan time get the
            # staged-file DuckDB pass inside commit_staged
            validated_rules=self._constraints,
        )

    def abort(self, messages):
        import shutil

        shutil.rmtree(
            os.path.join(self._root, "data", self._commit_id), ignore_errors=True
        )


class SnapshotTableDataSource(DataSource):
    """``spark.read.format("snapshot_table").load(root)`` — optionally
    ``.option("version", <int or tag>)`` for time travel — and
    ``df.write.format("snapshot_table").mode("append"|"overwrite")
    .save(root)`` for atomic manifest-committed writes."""

    @classmethod
    def name(cls) -> str:
        return "snapshot_table"

    def schema(self):
        reader = SnapshotBatchReader(None, dict(self.options))
        return reader._schema()

    def reader(self, schema: StructType) -> SnapshotBatchReader:
        return SnapshotBatchReader(schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> SnapshotBatchWriter:
        root = self.options.get("path") or self.options.get("root")
        if not root:
            raise ValueError("snapshot_table write requires a path (save(root))")
        return SnapshotBatchWriter(root, schema, overwrite)


def register_snapshot_table(spark) -> None:
    # the engine refuses to plan a reader that implements pushFilters
    # while the (runtime-settable) pushdown flag is off — enabling it at
    # registration keeps the source usable from any session.
    # Registration is memoized per session: `dataSource.register`
    # cloudpickles and ships the class on every call (~0.25 s of pure
    # driver latency).
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    if getattr(spark, "_snapshot_table_registered", False):
        return
    spark.dataSource.register(SnapshotTableDataSource)
    spark._snapshot_table_registered = True


# ---------------------------------------------------------------------------
# SQL views: native pinned scans, pruned per statement from Catalyst's
# pushed filters
# ---------------------------------------------------------------------------

# the sources.Filter classes Catalyst's filter translation produces that
# _filter_ranges can use, by JVM simple class name
_JVM_FILTERS = {
    c.__name__: c
    for c in (
        EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, In
    )
}


def _sql_views(spark) -> dict:
    """This session's view registry: name -> spec (the addressing
    arguments of ``snapshot_sql_register``, plus the resolved root,
    manifest, full-list DataFrame and state token of the registration)."""
    reg = getattr(spark, "_snapshot_sql_views", None)
    if reg is None:
        reg = {}
        spark._snapshot_sql_views = reg
    return reg


def _spec_state(spec: dict):
    """A cheap token of the table state the view resolves to NOW (one
    directory listing): the pin itself, or the latest version of an
    unpinned root or branch, or the catalog head for catalog-routed
    views. None (unresolvable) never matches a registration."""
    try:
        if spec.get("catalog") is not None:
            cv = spec.get("catalog_version")
            if cv is None:
                from airflow_postgres_csv_spark.operators.catalog_txn import (
                    catalog_versions,
                )

                vs = catalog_versions(spec["catalog"])
                cv = vs[-1] if vs else None
            return ("cat", cv)
        root = _local_root(spec["root"])
        if spec.get("branch") is not None:
            from airflow_postgres_csv_spark.operators.branches import (
                _branch_root,
            )

            root = _branch_root(root, spec["branch"])
        if spec.get("version") is not None:
            return ("v", S.resolve_version(root, spec["version"]))
        vs = S.snapshot_versions(root)
        return ("v", vs[-1] if vs else None)
    except Exception:
        return None


def _register(spark, name: str, spec: dict, rels: list[str] | None = None):
    """(Re-)register temp view ``name`` as the native pinned scan of
    ``spec``'s table: over ``rels`` when given (one statement's kept
    files), else over the full pinned file list — resolved now and kept
    in ``spec`` together with the state token it was resolved at."""
    if rels is None:
        state = _spec_state(spec)  # before resolving: a racing commit
        # moves the token past this registration, never behind it
        root, m = _pinned_manifest({**spec, "table": spec["table"] or name})
        df = S._read_pinned(spark, root, m, m["files"])
        spec.update(state=state, table_root=root, manifest=m, df=df)
    else:
        df = S._read_pinned(spark, spec["table_root"], spec["manifest"], rels)
    df.createOrReplaceTempView(name)
    return df


def _scan_filters(spark, df) -> list[tuple[str, list]]:
    """``(first file path, usable pushed filters)`` for every parquet scan
    of ``df``'s physical plan, adaptive and subquery plans included. The
    filters are the scan's ``dataFilters`` — the conjuncts every row it
    returns must satisfy — as Catalyst translates them for data sources,
    converted to ``pyspark.sql.datasource`` filters; only literal values
    a zone map or Bloom probe can compare survive."""
    dss = getattr(
        getattr(
            spark._jvm.org.apache.spark.sql.execution.datasources,
            "DataSourceStrategy$",
        ),
        "MODULE$",
    )
    out = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        plan = todo.pop()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.inputPlan()
        leaves = plan.collectLeaves()
        for i in range(leaves.length()):
            leaf = leaves.apply(i)
            kind = leaf.getClass().getSimpleName()
            if kind == "AdaptiveSparkPlanExec":
                todo.append(leaf)
            if kind != "FileSourceScanExec":
                continue
            rel = leaf.relation()
            path = rel.location().rootPaths().head().toUri().getPath()
            pushed = dss.selectFilters(rel, leaf.dataFilters())._2()
            filters = []
            for j in range(pushed.length()):
                jf = pushed.apply(j)
                cls = _JVM_FILTERS.get(jf.getClass().getSimpleName())
                if cls is None:
                    continue
                vals = tuple(jf.values()) if cls is In else (jf.value(),)
                if all(isinstance(v, (bool, int, float, str)) for v in vals):
                    filters.append(
                        cls((jf.attribute(),), vals if cls is In else vals[0])
                    )
            out.append((path, filters))
        # recursive over nested subqueries; each subquery plan's own
        # adaptive leaves are expanded when popped. One subquery shared by
        # a filter and its scan's dataFilters is listed once per use
        subs = plan.subqueriesAll().distinct()
        for i in range(subs.length()):
            todo.append(subs.apply(i))
    return out


def _statement_files(spark, df, views: dict) -> dict[str, list[str]]:
    """view name -> the pinned files the statement's scans of that view
    can match, for each view where that is fewer than all of them. A scan
    reads a view's data when its files lie under the view's ``data/``
    directory and are not tombstone files; the union over all such scans
    keeps every file any of them needs, so one re-plan serves self-joins,
    CTEs and subqueries."""
    scans = _scan_filters(spark, df)
    out = {}
    for name, spec in views.items():
        root, m = spec["table_root"], spec["manifest"]
        abs_root = os.path.abspath(root)
        data_dir = os.path.join(abs_root, "data") + os.sep
        tombs = {
            os.path.join(abs_root, f)
            for t in m.get("tombstones", [])
            for f in t["files"]
        }
        mine = [
            f for path, f in scans if path.startswith(data_dir) and path not in tombs
        ]
        kept: set[str] = set()
        for filters in mine:
            ranges, eq = _filter_ranges(filters)
            if not ranges:  # this scan needs every file
                break
            kept.update(_planned_files(root, m, ranges, eq))
        else:
            if mine and len(kept) < len(m["files"]):
                out[name] = [f for f in m["files"] if f in kept]
    return out


def _install_sql_hook(spark) -> None:
    """Wrap ``spark.sql`` so statements naming a registered view read only
    the files their filters can match (the Python-side analog of a
    catalog plugin). Per statement naming a view: re-register an unpinned
    view whose table moved since its registration, run the statement,
    and if its scans of the view keep fewer files than the pinned list
    (``_statement_files``), re-plan it once over the kept files. The full
    list is registered again before returning, so derived views,
    ``spark.table`` handles and later statements start from it. The
    returned DataFrame's analyzed plan holds its own file list — there is
    no shared scan cache a later statement could poison. Statements
    naming no registered view pass straight through."""
    if getattr(spark, "_snapshot_sql_hook", None) is not None:
        return
    import re as _re
    import threading

    orig_sql = spark.sql
    lock = threading.Lock()

    def sql_hook(sqlQuery, *args, **kwargs):
        views = _sql_views(spark)
        if not isinstance(sqlQuery, str) or not views:
            return orig_sql(sqlQuery, *args, **kwargs)
        hit = [
            n
            for n in views
            if _re.search(rf"\b{_re.escape(n)}\b", sqlQuery, _re.IGNORECASE)
        ]
        if not hit:
            return orig_sql(sqlQuery, *args, **kwargs)
        with lock:
            reg_errs: dict[str, Exception] = {}
            for n in hit:
                state = _spec_state(views[n])
                if state is not None and state == views[n]["state"]:
                    continue
                try:
                    _register(spark, n, views[n])
                except Exception as exc:
                    # the table root is gone (a torn-down scratch dir):
                    # the view is dead either way — unregister it so a
                    # statement that merely MENTIONS the name (a column,
                    # a string literal) is not poisoned by the registry,
                    # and keep the ORIGINAL error for statements that
                    # read it
                    views.pop(n, None)
                    spark.catalog.dropTempView(n)
                    reg_errs[n] = exc
            try:
                df = orig_sql(sqlQuery, *args, **kwargs)
            except Exception as exc:
                for n, cause in reg_errs.items():
                    if _re.search(
                        rf"\b{_re.escape(n)}\b", str(exc), _re.IGNORECASE
                    ):
                        raise RuntimeError(
                            f"view {n!r} was dropped from the SQL registry "
                            f"because its table failed to register: {cause}"
                        ) from exc
                raise
            try:
                keep = _statement_files(
                    spark, df, {n: views[n] for n in hit if n in views}
                )
            except (Py4JError, PySparkException):
                # pruning is an optimization: a plan this pass cannot
                # read (a streaming join, a planner error the action will
                # report) keeps the full pinned list, which is exact
                keep = {}
            if not keep:
                return df
            try:
                for n, rels in keep.items():
                    _register(spark, n, views[n], rels)
                return orig_sql(sqlQuery, *args, **kwargs)
            finally:
                for n in keep:
                    views[n]["df"].createOrReplaceTempView(n)

    spark.sql = sql_hook
    spark._snapshot_sql_hook = sql_hook


def snapshot_sql_unregister(spark, name: str) -> None:
    """Drop ``name`` from the view registry and the temp-view catalog
    (the statement hook stays installed but no longer touches it)."""
    _sql_views(spark).pop(name, None)
    spark.catalog.dropTempView(name)


def snapshot_sql_register(
    spark,
    name: str,
    root: str | None = None,
    *,
    version: int | str | None = None,
    branch: str | None = None,
    catalog: str | None = None,
    table: str | None = None,
    catalog_version: int | None = None,
):
    """Make a snapshot (or catalog-pinned) table addressable by NAME in
    raw ``spark.sql`` text, as a session temp view over the version's
    native pinned scan (``snapshots._read_pinned``, the same plan as
    ``snapshot_read``): manifest-pinned files read by the JVM vectorized
    parquet reader, MOR tombstones as broadcast anti-joins, schema
    evolution defaults and rename lineage, time travel.

    SQL text gets the same file pruning as ``snapshot_scan`` and the
    data source. The session's ``spark.sql`` hook (``_install_sql_hook``)
    looks, after Catalyst has planned a statement naming the view, at the
    filters Catalyst pushed into each parquet scan of the view's files,
    plans them through ``_plan_scan`` (commit ranges, zone maps) and the
    Bloom probes, and re-plans the statement once over the kept files if
    fewer than the full pinned list survive. A statement that scans the
    view more than once (self-join, CTE, subquery, an optimizer-injected
    runtime filter) reads the UNION of its scans' kept files; every
    filter still applies row-level, so pruning never changes a result.
    The driver-side cost at scale is unchanged from the data source:
    O(root manifest + surviving sidecars) per pruned statement, and a
    statement with no usable range or equality costs no metadata read.
    Views, CTAS and CACHE over the name, and ``spark.table(name)``
    handles, read the full pinned list (they outlive the statement).

    Addressing mirrors the reader options: ``root`` (+ optional
    ``version`` int or tag, + optional ``branch`` name — WAP quarantine
    triage and in-flight transaction state in plain SQL) reads one
    table directly; ``catalog=..., table=...`` (+ optional
    ``catalog_version``) resolves through a catalog pin so several
    registered views see ONE transaction's mutually-consistent world.
    An unpinned view follows its table: before each statement naming it,
    the hook compares a one-listing state token and re-registers the
    view when a commit (or catalog version) landed since.

    Returns the registered DataFrame (what ``spark.table(name)`` yields).
    Iceberg analog: ``spark.table("cat.db.t")`` via a session catalog
    plugin; the reference has no SQL surface of its own (it delegates to
    Postgres — reference operators.py:80).
    """
    if catalog is None and root is None:
        raise ValueError(
            "snapshot_sql_register requires root= or catalog=/table="
        )
    views = _sql_views(spark)
    views.pop(name, None)
    if catalog is not None and table is not None:
        # a catalog VIEW registers as its RESOLVED DataFrame (stored SQL
        # over the pinned base tables of the addressed catalog version) —
        # spark.sql text over the name then works like any other view;
        # the base-table registrations inside catalog_read get the same
        # statement-level pruning
        from airflow_postgres_csv_spark.operators.catalog_txn import (
            _is_view,
            catalog_read,
            catalog_state,
        )

        ent = catalog_state(catalog, catalog_version).get(table)
        if ent is not None and (
            _is_view(ent)
            or (isinstance(ent, dict) and (ent.get("mview") or {}).get("incremental"))
        ):
            # plain views resolve their stored SQL; INCREMENTAL mviews
            # need the n > 0 retraction mask — both register as the
            # catalog_read DataFrame rather than a raw relation
            df = catalog_read(
                spark, catalog, table, catalog_version=catalog_version
            )
            df.createOrReplaceTempView(name)
            return df
    spec = {
        "root": root,
        "version": version,
        "branch": branch,
        "catalog": catalog,
        "table": table,
        "catalog_version": catalog_version,
    }
    df = _register(spark, name, spec)
    views[name] = spec
    _install_sql_hook(spark)
    return df
