"""SQL-text DML over snapshot tables: ``DELETE FROM`` / ``UPDATE`` /
``INSERT INTO`` / ``MERGE INTO`` statements routed to the native snapshot
operators — the Delta/Iceberg Spark-SQL-extensions surface, without a
session-catalog plugin (Python data sources have no DML extension point
in Spark 4.1, so the statements are parsed by the session's SQL parser;
expression text is handed to Spark as written).

Spark itself cannot run DML on plain parquet; pointing these statements
at the snapshot format buys the lakehouse semantics each operator already
guarantees:

- ``DELETE FROM t WHERE c``   → ``snapshot_delete_positional`` (keyless
  merge-on-read delete vectors; O(deleted rows), rewrites nothing)
- ``UPDATE t SET ... WHERE c`` → ``snapshot_update_where`` (keyless MOR
  update: delete vector + post-image files in ONE commit)
- ``INSERT INTO t <query|VALUES ...>``      → ``snapshot_commit`` append
- ``INSERT OVERWRITE t <query|VALUES ...>`` → ``snapshot_commit`` overwrite
- ``MERGE [WITH SCHEMA EVOLUTION] INTO t USING s ON t.k = s.k WHEN ...``
  → ``snapshot_merge_into`` (full clause surface incl. NOT MATCHED BY
  SOURCE)

Table names resolve through an explicit ``tables={name: root}`` mapping
or the session's ``snapshot_sql_register`` registry; DML against a
version-/branch-/catalog-pinned registration is refused (writes land on
heads, never on time-travel pins). The reference has no SQL engine of its
own (it delegates statements to Postgres — reference operators.py:80);
this is the write-side twin of the ``snapshot_sql_register`` read surface.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from airflow_postgres_csv_spark.operators.snapshots import (
    snapshot_commit,
    snapshot_delete_positional,
    snapshot_merge_into,
    snapshot_update_where,
)

__all__ = ["catalog_sql_exec", "snapshot_sql_exec"]

_STATEMENTS = (
    "DeleteFromTable", "UpdateTable", "InsertIntoStatement", "MergeIntoTable"
)


def _parse(spark: SparkSession, sql: str):
    """(statement text, parsed plan, plan node name) of ONE DML
    statement. Text Spark cannot parse raises Spark's own
    ``ParseException``; any other statement kind is refused here."""
    stmt = sql.strip().rstrip(";").strip()
    plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(stmt)
    kind = plan.nodeName()
    if kind not in _STATEMENTS:
        raise ValueError(
            f"unsupported statement {kind!r}: snapshot_sql_exec runs "
            "DELETE/UPDATE/INSERT/MERGE (SELECT goes through spark.sql over "
            "snapshot_sql_register'd views)"
        )
    return stmt, plan, kind


def _parts(seq) -> list[str]:
    """A parsed ``Seq[String]`` (name parts, an INSERT column list) as a
    Python list, in one gateway call."""
    joined = seq.mkString("\x00")
    return joined.split("\x00") if joined else []


def _table(node) -> tuple[list[str], str | None]:
    """(name parts, alias or None) of a parsed table reference. A
    backquoted `` `gold.t` `` is ONE part whose name keeps the dot."""
    alias = None
    if node.nodeName() == "SubqueryAlias":
        alias, node = node.alias(), node.child()
    if node.nodeName() != "UnresolvedRelation":
        raise ValueError(
            f"DML target must be a table name, got {node.nodeName()!r}"
        )
    return _parts(node.multipartIdentifier()), alias


def _text(stmt: str, node, aliases: dict[str, str] | None = None) -> str:
    """The user's text of a parsed expression or query: the smallest
    slice of ``stmt`` covering the origin span of every node under
    ``node`` (stop is inclusive). The root's span alone is not enough: a
    predicate node (``BETWEEN``, ``IN``, ``IS NULL``) starts at its
    keyword, and ``ORDER BY``/``LIMIT`` nodes at theirs. Spark's shared
    TRUE/FALSE literals carry the origin of whichever statement first
    built them, so their spans are ignored (a bare one reads as
    ``true``/``false``). Text no node covers is lost — the parentheses
    of ``(a) BETWEEN ...``, or all of ``EXISTS (...)``, whose node takes
    the whole statement's span — and Spark then refuses the slice. With
    ``aliases``, each attribute whose first name part is a key is
    spliced to ``<value>.<rest>``."""
    lo, hi, cuts, i = len(stmt), -1, [], 0
    while (n := node.apply(i)) is not None:
        i += 1
        kind = n.nodeName()
        if kind == "Literal" and n.sql() in ("true", "false"):
            continue
        ctx = n.origin().context()
        a, b = ctx.startIndex(), ctx.stopIndex()
        if a < 0:
            continue
        lo, hi = min(lo, a), max(hi, b)
        if aliases and kind == "UnresolvedAttribute":
            head, *rest = _parts(n.nameParts())
            if rest and head in aliases:
                quoted = [f"`{p.replace('`', '``')}`" for p in rest]
                cuts.append((a, b, ".".join([aliases[head], *quoted])))
    if hi < 0:
        return node.sql()
    text = stmt[lo:hi + 1]
    for a, b, new in sorted(cuts, reverse=True):
        text = text[:a - lo] + new + text[b + 1 - lo:]
    return text


def _assignments(
    stmt: str, seq, aliases: dict | None = None
) -> dict[str, str]:
    """``SET col = expr, ...`` as ``{col: expr text}``."""
    out: dict[str, str] = {}
    for i in range(seq.size()):
        a = seq.apply(i)
        col = _parts(a.key().nameParts())
        if len(col) != 1:
            raise ValueError(
                f"SET target {'.'.join(col)!r} is not a top-level column"
            )
        if col[0] in out:
            raise ValueError(f"column {col[0]!r} assigned twice in SET")
        out[col[0]] = _text(stmt, a.value(), aliases)
    return out


def _resolve(spark: SparkSession, name: str, tables: dict | None) -> str:
    """Table name -> WRITABLE snapshot root, via the explicit mapping
    first, then the session SQL registry. A BRANCH registration resolves
    to the branch's own root — DML against a write-audit-publish staging
    branch in plain SQL, exactly the WAP flow (audit the branch, publish
    atomically); version- and catalog-pinned registrations are read-only
    time-travel views and refuse DML."""
    if tables and name in tables:
        return tables[name]
    from airflow_postgres_csv_spark.sources.snapshot_batch import _sql_views

    spec = _sql_views(spark).get(name)
    if spec is None:
        raise KeyError(
            f"table {name!r} is not resolvable: pass tables={{name: root}} "
            "or snapshot_sql_register it first"
        )
    if spec.get("version") is not None or spec.get("catalog"):
        raise ValueError(
            f"table {name!r} is registered with a version/catalog "
            "pin — DML writes to table heads only; register the bare root "
            "or pass tables={name: root}"
        )
    if spec.get("branch"):
        from airflow_postgres_csv_spark.operators.branches import (
            _branch_root,
        )

        return _branch_root(spec["root"], spec["branch"])
    return spec["root"]


def _aligned(df, root: str, columns: list[str] | None):
    """Cast/align an INSERT source to the table's declared schema:
    positional when no column list is given (arity must match), by-name
    into the listed columns otherwise (unlisted columns fill NULL)."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from airflow_postgres_csv_spark.operators.snapshots import (
        _load_manifest,
        snapshot_versions,
    )

    manifest = _load_manifest(root, snapshot_versions(root)[-1])
    fields = StructType.fromJson(json.loads(manifest["schema"])).fields
    if columns is None:
        if len(df.columns) != len(fields):
            raise ValueError(
                f"INSERT arity mismatch: query produces {len(df.columns)} "
                f"column(s), table has {len(fields)}"
            )
        return df.select(
            *[
                F.col(df.columns[i]).cast(f.dataType).alias(f.name)
                for i, f in enumerate(fields)
            ]
        )
    declared = {f.name: f for f in fields}
    bad = [c for c in columns if c not in declared]
    if bad:
        raise ValueError(f"INSERT column(s) {bad} not in table schema")
    if len(set(columns)) != len(columns):
        raise ValueError(f"duplicate INSERT column(s) in {columns}")
    if len(df.columns) != len(columns):
        raise ValueError(
            f"INSERT arity mismatch: query produces {len(df.columns)} "
            f"column(s) for {len(columns)} listed"
        )
    by_pos = dict(zip(columns, df.columns))
    return df.select(
        *[
            F.col(by_pos[f.name]).cast(f.dataType).alias(f.name)
            if f.name in by_pos
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in fields
        ]
    )


def snapshot_sql_exec(
    spark: SparkSession, sql: str, tables: dict[str, str] | None = None
) -> dict:
    """Execute ONE DML statement against snapshot tables (see module
    docstring for the statement surface and routing). Returns the
    underlying operator's result dict plus ``{"statement": kind}``.
    The statement is read by the session's SQL parser, exactly as
    ``spark.sql`` would read it: text it cannot parse raises Spark's
    ``ParseException`` (error class and position), unchanged.
    Multi-statement scripts, DDL, and plain SELECT belong to their
    existing surfaces (``spark.sql`` over registered views; the catalog
    DDL ops)."""
    return _exec(spark, *_parse(spark, sql), tables)


def _exec(
    spark: SparkSession, stmt: str, plan, kind: str, tables: dict | None
) -> dict:
    if kind == "MergeIntoTable":
        return _exec_merge(spark, stmt, plan, tables)
    parts, alias = _table(plan.table())
    if alias is not None:
        raise ValueError(
            f"aliased {kind} target {alias!r} is not supported: name the "
            "table without an alias"
        )
    root = _resolve(spark, ".".join(parts), tables)
    if kind == "DeleteFromTable":
        # no WHERE parses to the shared TRUE literal, which reads "true"
        out = snapshot_delete_positional(
            spark, root, _text(stmt, plan.condition())
        )
        return {**out, "statement": "delete"}
    if kind == "UpdateTable":
        cond = plan.condition()
        out = snapshot_update_where(
            spark, root,
            _text(stmt, cond.get()) if cond.isDefined() else "true",
            _assignments(stmt, plan.assignments()),
        )
        return {**out, "statement": "update"}
    if plan.byName() or not plan.partitionSpec().isEmpty():
        raise ValueError(
            "INSERT ... BY NAME / PARTITION (...) is not supported: list "
            "the columns instead"
        )
    # the INSERT node spans `INSERT INTO t [(cols)]`: the query is the
    # rest of the statement, as written
    query = stmt[plan.origin().context().stopIndex() + 1:]
    df = _aligned(
        spark.sql(query), root, _parts(plan.userSpecifiedCols()) or None
    )
    mode = "overwrite" if plan.overwrite() else "append"
    out = snapshot_commit(df, root, mode=mode)
    return {"version": out["version"], "statement": f"insert_{mode}"}


def catalog_sql_exec(
    spark: SparkSession,
    catalog_root: str,
    sql: str,
    retries: int = 0,
    note: str = "",
) -> dict:
    """Run ONE DML statement against a CATALOG table and advance its pin:
    the statement resolves through the catalog head, executes on the
    table root (each snapshot commit is atomic), and the catalog then
    pins the new table version — so catalog readers flip from the
    pre-DML world to the post-DML world in one catalog version, never a
    mixture. A crash between the table commit and the pin leaves the
    catalog serving the OLD pinned version with the new one staged —
    the standard catalog crash contract; re-running the pin (or this
    call's no-op twin) adopts it.

    Refuses when the pinned version is not the table's head: an
    out-of-band writer advanced the root past the catalog's knowledge,
    and running DML on top would silently pull those unpinned commits
    into catalog visibility — re-pin deliberately first
    (``catalog_pin_tables``). MERGE sources must be queryable by name in
    the session (a temp view or a registered snapshot view)."""
    from airflow_postgres_csv_spark.operators.catalog_txn import (
        _is_virtual,
        catalog_pin_tables,
        catalog_state,
        catalog_versions,
    )
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_versions,
    )

    stmt, plan, kind = _parse(spark, sql)
    name = ".".join(_table(
        plan.targetTable() if kind == "MergeIntoTable" else plan.table()
    )[0])
    state = catalog_state(catalog_root, catalog_versions(catalog_root)[-1])
    ent = state.get(name)
    if ent is None or _is_virtual(ent):
        raise KeyError(
            f"catalog_sql_exec: {name!r} is not a table at the catalog "
            "head (views/mviews are not DML targets)"
        )
    root, pinned = ent["root"], ent["version"]
    head = snapshot_versions(root)[-1]
    if pinned != head:
        raise ValueError(
            f"catalog_sql_exec: table {name!r} is pinned at version "
            f"{pinned} but its root head is {head} — an out-of-band "
            "writer advanced it; catalog_pin_tables first, then re-run"
        )
    out = _exec(spark, stmt, plan, kind, {name: root})
    # pin the DML's OWN commit version (every operator result carries
    # it) — never a re-read head, which could silently adopt a foreign
    # commit that landed in the window after the drift check
    new_v = out.get("version")
    if out.get("committed") is False or new_v is None or new_v == head:
        return {**out, "catalog_version": None, "pinned": False}
    cat = catalog_pin_tables(
        catalog_root, {name: (root, new_v)}, retries=retries,
        note=note or f"sql: {stmt.splitlines()[0][:80]}",
    )
    return {**out, "catalog_version": cat["version"], "pinned": True}


def _exec_merge(
    spark: SparkSession, stmt: str, plan, tables: dict | None
) -> dict:
    parts, ta = _table(plan.targetTable())
    ta = ta or parts[-1]
    root = _resolve(spark, ".".join(parts), tables)
    src = plan.sourceTable()
    sa = None
    if src.nodeName() == "SubqueryAlias":
        sa, src = src.alias(), src.child()
    if src.nodeName() == "UnresolvedRelation":
        sa = sa or _parts(src.multipartIdentifier())[-1]
        query = f"SELECT * FROM {_text(stmt, src)}"
    elif sa is None:
        raise ValueError("MERGE with a subquery source needs an alias")
    else:
        query = _text(stmt, src)
    on = plan.mergeCondition()
    sides = [on.left(), on.right()] if on.nodeName() == "EqualTo" else []
    names = [
        _parts(a.nameParts())
        for a in sides
        if a.nodeName() == "UnresolvedAttribute"
    ]
    if len(names) != 2 or any(len(n) != 2 for n in names):
        raise ValueError(
            "MERGE ON must be a single equality t.<key> = s.<key> "
            f"(got {_text(stmt, on)!r})"
        )
    (a1, c1), (a2, c2) = names
    if {a1, a2} != {ta, sa} or c1 != c2:
        raise ValueError(
            "MERGE ON must equate the SAME column name across the target "
            f"and source aliases ({ta!r}, {sa!r}); got {_text(stmt, on)!r}"
        )
    kw: dict = {"key": c1, "insert_when_not_matched": False}
    if plan.withSchemaEvolution():
        kw["merge_schema"] = True
    # the target wins an alias both sides share
    aliases = {sa: "s", ta: "t"}
    seen: set[str] = set()
    for group, actions in (
        ("matched", plan.matchedActions()),
        ("insert", plan.notMatchedActions()),
        ("by_source", plan.notMatchedBySourceActions()),
    ):
        for i in range(actions.size()):
            act = actions.apply(i)
            action = act.nodeName()
            kind = (
                group if group != "matched"
                else "delete" if action == "DeleteAction"
                else "update"
            )
            if kind in seen:
                # SQL gives same-kind clauses first-match-wins semantics
                # the single-slot operator cannot express — refuse, never
                # drop
                raise ValueError(
                    f"duplicate WHEN clause kind {kind!r}: the snapshot "
                    "MERGE takes at most one clause of each kind"
                )
            if kind == "delete" and "update" in seen:
                # the operator's fixed order is DELETE -> UPDATE; a
                # statement writing UPDATE first means first-match-wins
                # would UPDATE rows this engine would delete — refuse the
                # reordering
                raise ValueError(
                    "WHEN MATCHED THEN UPDATE written before WHEN MATCHED "
                    "THEN DELETE: this engine evaluates DELETE first, which "
                    "changes first-match-wins semantics — write the DELETE "
                    "clause first"
                )
            seen.add(kind)
            cond = act.condition()
            cond = (
                _text(stmt, cond.get(), aliases) if cond.isDefined() else None
            )
            if kind == "by_source":
                if action != "DeleteAction":
                    raise ValueError(
                        "WHEN NOT MATCHED BY SOURCE supports THEN DELETE "
                        "only"
                    )
                kw["not_matched_by_source_delete"] = cond or "true"
            elif kind == "insert":
                if action != "InsertStarAction":
                    raise ValueError(
                        "WHEN NOT MATCHED supports THEN INSERT * only "
                        "(the snapshot MERGE is INSERT-star shaped)"
                    )
                kw["insert_when_not_matched"] = True
                if cond:
                    kw["not_matched_condition"] = cond
            elif kind == "delete":
                kw["matched_delete_condition"] = cond or "true"
            elif action != "UpdateAction":
                raise ValueError(
                    "WHEN MATCHED supports THEN UPDATE SET <col> = <expr> "
                    "and THEN DELETE only"
                )
            else:
                kw["matched_update"] = _assignments(
                    stmt, act.assignments(), aliases
                )
                if cond:
                    kw["matched_update_condition"] = cond
    out = snapshot_merge_into(spark, root, spark.sql(query), **kw)
    return {**out, "statement": "merge"}
