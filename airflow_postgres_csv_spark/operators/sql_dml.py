"""SQL-text DML over snapshot tables: ``DELETE FROM`` / ``UPDATE`` /
``INSERT INTO`` / ``MERGE INTO`` statements routed to the native snapshot
operators — the Delta/Iceberg Spark-SQL-extensions surface, without a
session-catalog plugin (Python data sources have no DML extension point
in Spark 4.1, so the statements are parsed here and the WHERE/SET/ON
expression fragments are handed to Spark unmodified).

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

import re

from pyspark.sql import SparkSession

from airflow_postgres_csv_spark.operators.snapshots import (
    snapshot_commit,
    snapshot_delete_positional,
    snapshot_merge_into,
    snapshot_update_where,
)

__all__ = ["catalog_sql_exec", "snapshot_sql_exec"]

# table names as users write them: plain or dotted identifiers, optionally
# backquoted per part (`a.b` written as `a`.`b`)
_IDENT = r"(?:`[^`]+`|[A-Za-z_][\w$]*)(?:\.(?:`[^`]+`|[A-Za-z_][\w$]*))*"


def _unquote(name: str) -> str:
    # split at part boundaries, never inside backquotes: `gold.t` is ONE
    # part whose stored name contains the dot
    parts = re.findall(r"`[^`]+`|[^.`]+", name)
    return ".".join(p[1:-1] if p.startswith("`") else p for p in parts)


def _split_top(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at paren/quote depth zero — SET lists and VALUES
    tuples carry commas inside function calls and string literals
    (both SQL doubled-quote and backslash escapes honored)."""
    out, depth, start, i, n = [], 0, 0, 0, len(s)
    while i < n:
        ch = s[i]
        if ch in "'\"":
            q = ch
            i += 1
            while i < n:
                if s[i] == "\\":
                    i += 2
                    continue
                if s[i] == q:
                    # SQL doubles quotes to escape them
                    if i + 1 < n and s[i + 1] == q:
                        i += 2
                        continue
                    break
                i += 1
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == sep and depth == 0:
            out.append(s[start:i])
            start = i + 1
        i += 1
    out.append(s[start:])
    return [p.strip() for p in out]


def _mask_literals(s: str) -> str:
    """A same-length copy of ``s`` with quoted-literal BODIES blanked
    (the quotes themselves survive), so the statement grammar's keyword
    boundaries (WHERE / WHEN / SET commas) can never bind inside a
    string like ``'fix where x'`` — matches run on the mask and slice
    the ORIGINAL text by span. Honors SQL doubled-quote and backslash
    escapes."""
    out = list(s)
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch in "'\"":
            q = ch
            i += 1
            while i < n:
                if s[i] == "\\":
                    out[i] = " "
                    if i + 1 < n:
                        out[i + 1] = " "
                    i += 2
                    continue
                if s[i] == q:
                    if i + 1 < n and s[i + 1] == q:
                        out[i] = " "
                        out[i + 1] = " "
                        i += 2
                        continue
                    break
                out[i] = " "
                i += 1
        i += 1
    return "".join(out)


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


def _source_df(spark: SparkSession, query: str):
    """An INSERT/MERGE source: a full query (SELECT/WITH/TABLE/VALUES,
    possibly parenthesized) or a bare table name. Runs through
    ``spark.sql`` so registered snapshot views in it get the statement
    hook's file pruning."""
    q = query.strip()
    while q.startswith("(") and q.endswith(")"):
        # strip only a TRUE outer wrap — "(a) UNION (b)" closes its first
        # paren mid-string and must stay intact
        depth = 0
        wraps = True
        for i, ch in enumerate(q):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i < len(q) - 1:
                    wraps = False
                    break
        if not wraps:
            break
        q = q[1:-1].strip()
    if re.fullmatch(_IDENT, q):
        return spark.sql(f"SELECT * FROM {q}")
    return spark.sql(q)


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


_DELETE_RE = re.compile(
    rf"DELETE\s+FROM\s+(?P<t>{_IDENT})(?:\s+WHERE\s+(?P<w>.+))?$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    rf"UPDATE\s+(?P<t>{_IDENT})\s+SET\s+(?P<set>.+?)"
    r"(?:\s+WHERE\s+(?P<w>.+))?$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_RE = re.compile(
    rf"INSERT\s+(?P<mode>INTO|OVERWRITE)\s+(?:TABLE\s+)?(?P<t>{_IDENT})"
    r"\s*(?:\((?P<cols>[^)]*)\)\s*(?=\s*(?:SELECT|VALUES|WITH|TABLE|\()))?"
    r"\s*(?P<q>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_RE = re.compile(
    rf"MERGE\s+(?P<evolve>WITH\s+SCHEMA\s+EVOLUTION\s+)?INTO\s+"
    rf"(?P<t>{_IDENT})(?:\s+AS)?(?:\s+(?P<ta>[A-Za-z_][\w$]*))?\s+"
    rf"USING\s+(?P<src>\((?:[^()]|\([^()]*\))*\)|{_IDENT})(?:\s+AS)?"
    r"(?:\s+(?P<sa>[A-Za-z_][\w$]*))?\s+ON\s+(?P<on>.+?)"
    r"(?P<when>\s+WHEN\s+.+)$",
    re.IGNORECASE | re.DOTALL,
)
_WHEN_RE = re.compile(
    r"WHEN\s+(?P<not>NOT\s+)?MATCHED(?P<by_src>\s+BY\s+SOURCE)?"
    r"(?:\s+AND\s+(?P<cond>.+?))?\s+THEN\s+"
    r"(?P<act>DELETE|INSERT\s*\*|UPDATE\s+SET\s+.+?)\s*(?=WHEN\s|$)",
    re.IGNORECASE | re.DOTALL,
)
_ON_RE = re.compile(
    r"^\s*(?P<a1>[A-Za-z_][\w$]*)\.(?P<c1>[A-Za-z_][\w$]*)\s*=\s*"
    r"(?P<a2>[A-Za-z_][\w$]*)\.(?P<c2>[A-Za-z_][\w$]*)\s*$"
)


def _realias(expr: str, ta: str, sa: str) -> str:
    """Rewrite the statement's target/source aliases to the fixed ``t``/
    ``s`` that ``snapshot_merge_into`` expressions use. Both aliases are
    first moved to collision-proof placeholders so a statement whose
    SOURCE alias is literally ``t`` (or target ``s``) cannot have its
    just-rewritten references re-rewritten by the second pass."""
    expr = re.sub(rf"\b{re.escape(ta)}\s*\.", "\x00T\x00.", expr)
    expr = re.sub(rf"\b{re.escape(sa)}\s*\.", "\x00S\x00.", expr)
    return expr.replace("\x00T\x00.", "t.").replace("\x00S\x00.", "s.").strip()


def _parse_set(set_text: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for part in _split_top(set_text):
        m = re.match(
            r"^\s*(?:`(?P<q>[^`]+)`|(?P<c>[A-Za-z_][\w$]*))\s*=\s*"
            r"(?P<e>.+)$",
            part,
            re.DOTALL,
        )
        if not m:
            raise ValueError(f"cannot parse SET assignment: {part!r}")
        col = m.group("q") or m.group("c")
        if col in out:
            raise ValueError(f"column {col!r} assigned twice in SET")
        out[col] = m.group("e").strip()
    return out


def snapshot_sql_exec(
    spark: SparkSession, sql: str, tables: dict[str, str] | None = None
) -> dict:
    """Execute ONE DML statement against snapshot tables (see module
    docstring for the statement surface and routing). Returns the
    underlying operator's result dict plus ``{"statement": kind}``.
    Multi-statement scripts, DDL, and plain SELECT belong to their
    existing surfaces (``spark.sql`` over registered views; the catalog
    DDL ops)."""
    stmt = sql.strip().rstrip(";").strip()
    masked = _mask_literals(stmt)
    head = stmt.split(None, 1)[0].upper() if stmt else ""
    if head == "DELETE":
        m = _DELETE_RE.fullmatch(masked)
        if not m:
            raise ValueError(f"cannot parse DELETE statement: {stmt!r}")
        root = _resolve(spark, _unquote(_g(m, stmt, "t")), tables)
        out = snapshot_delete_positional(
            spark, root, (_g(m, stmt, "w") or "true").strip()
        )
        return {**out, "statement": "delete"}
    if head == "UPDATE":
        m = _UPDATE_RE.fullmatch(masked)
        if not m:
            raise ValueError(f"cannot parse UPDATE statement: {stmt!r}")
        root = _resolve(spark, _unquote(_g(m, stmt, "t")), tables)
        out = snapshot_update_where(
            spark, root, (_g(m, stmt, "w") or "true").strip(),
            _parse_set(_g(m, stmt, "set")),
        )
        return {**out, "statement": "update"}
    if head == "INSERT":
        m = _INSERT_RE.fullmatch(masked)
        if not m:
            raise ValueError(f"cannot parse INSERT statement: {stmt!r}")
        root = _resolve(spark, _unquote(_g(m, stmt, "t")), tables)
        cols = (
            [c.strip().strip("`") for c in m.group("cols").split(",")]
            if m.group("cols")
            else None
        )
        df = _aligned(_source_df(spark, _g(m, stmt, "q")), root, cols)
        mode = (
            "append" if m.group("mode").upper() == "INTO" else "overwrite"
        )
        out = snapshot_commit(df, root, mode=mode)
        return {"version": out["version"], "statement": f"insert_{mode}"}
    if head == "MERGE":
        return _exec_merge(spark, stmt, tables)
    raise ValueError(
        f"unsupported statement {head!r}: snapshot_sql_exec runs "
        "DELETE/UPDATE/INSERT/MERGE (SELECT goes through spark.sql over "
        "snapshot_sql_register'd views)"
    )


def _g(m: re.Match, original: str, name: str) -> str | None:
    """A group's text from the ORIGINAL statement by the span matched on
    its literal-masked copy (same length, so spans line up)."""
    return (
        original[m.start(name):m.end(name)]
        if m.group(name) is not None
        else None
    )


def _target_name(stmt: str) -> str:
    """The table a DML statement writes to, by the same grammar the
    executors use."""
    head = stmt.split(None, 1)[0].upper() if stmt else ""
    m = {
        "DELETE": _DELETE_RE,
        "UPDATE": _UPDATE_RE,
        "INSERT": _INSERT_RE,
        "MERGE": _MERGE_RE,
    }.get(head, re.compile(r"(?!x)x")).fullmatch(_mask_literals(stmt))
    if not m:
        raise ValueError(f"cannot parse {head or 'empty'} statement: {stmt!r}")
    return _unquote(_g(m, stmt, "t"))


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

    stmt = sql.strip().rstrip(";").strip()
    name = _target_name(stmt)
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
    out = snapshot_sql_exec(spark, stmt, tables={name: root})
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
    spark: SparkSession, stmt: str, tables: dict | None
) -> dict:
    masked = _mask_literals(stmt)
    m = _MERGE_RE.fullmatch(masked)
    if not m:
        raise ValueError(f"cannot parse MERGE statement: {stmt!r}")
    tname = _unquote(_g(m, stmt, "t"))
    root = _resolve(spark, tname, tables)
    ta = m.group("ta") or tname
    src_text = _g(m, stmt, "src")
    sa = m.group("sa") or (
        _unquote(src_text)
        if re.fullmatch(_IDENT, m.group("src"))
        else None
    )
    if sa is None:
        raise ValueError("MERGE with a subquery source needs an alias")
    on = _ON_RE.match(m.group("on"))
    if not on:
        raise ValueError(
            "MERGE ON must be a single equality t.<key> = s.<key> "
            f"(got {m.group('on')!r})"
        )
    sides = {on.group("a1"): on.group("c1"), on.group("a2"): on.group("c2")}
    if set(sides) != {ta, sa} or on.group("c1") != on.group("c2"):
        raise ValueError(
            "MERGE ON must equate the SAME column name across the target "
            f"and source aliases ({ta!r}, {sa!r}); got {m.group('on')!r}"
        )
    key = on.group("c1")
    kw: dict = {"key": key, "insert_when_not_matched": False}
    if m.group("evolve"):
        kw["merge_schema"] = True
    seen: set[str] = set()
    when_orig = _g(m, stmt, "when")
    for w in _WHEN_RE.finditer(masked[m.start("when"):m.end("when")]):
        act_orig = when_orig[w.start("act"):w.end("act")]
        cond_orig = (
            when_orig[w.start("cond"):w.end("cond")]
            if w.group("cond") is not None
            else None
        )
        act = re.sub(r"\s+", " ", w.group("act")).upper()
        kind = (
            "by_source" if w.group("by_src")
            else "insert" if w.group("not")
            else "delete" if act == "DELETE"
            else "update"
        )
        if kind in seen:
            # SQL gives same-kind clauses first-match-wins semantics the
            # single-slot operator cannot express — refuse, never drop
            raise ValueError(
                f"duplicate WHEN clause kind {kind!r}: the snapshot MERGE "
                "takes at most one clause of each kind"
            )
        if kind == "delete" and "update" in seen:
            # the operator's fixed order is DELETE -> UPDATE; a statement
            # writing UPDATE first means first-match-wins would UPDATE
            # rows this engine would delete — refuse the reordering
            raise ValueError(
                "WHEN MATCHED THEN UPDATE written before WHEN MATCHED "
                "THEN DELETE: this engine evaluates DELETE first, which "
                "changes first-match-wins semantics — write the DELETE "
                "clause first"
            )
        seen.add(kind)
        cond = (
            _realias(cond_orig, ta, sa) if cond_orig is not None else None
        )
        if w.group("by_src"):
            if not w.group("not") or act != "DELETE":
                raise ValueError(
                    "WHEN [NOT] MATCHED BY SOURCE supports THEN DELETE only"
                )
            kw["not_matched_by_source_delete"] = cond or "true"
        elif w.group("not"):
            if act != "INSERT *":
                raise ValueError(
                    "WHEN NOT MATCHED supports THEN INSERT * only "
                    "(the snapshot MERGE is INSERT-star shaped)"
                )
            kw["insert_when_not_matched"] = True
            if cond:
                kw["not_matched_condition"] = cond
        elif act == "DELETE":
            kw["matched_delete_condition"] = cond or "true"
        else:
            set_text = re.sub(
                r"^UPDATE\s+SET\s+", "", act_orig,
                flags=re.IGNORECASE,
            )
            kw["matched_update"] = {
                c: _realias(e, ta, sa)
                for c, e in _parse_set(set_text).items()
            }
            if cond:
                kw["matched_update_condition"] = cond
    out = snapshot_merge_into(spark, root, _source_df(spark, src_text), **kw)
    return {**out, "statement": "merge"}
