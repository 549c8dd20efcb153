"""SQL-text DML (operators/sql_dml.py) + the keyless MOR UPDATE operator
(snapshots.snapshot_update_where): DELETE/UPDATE/INSERT/MERGE statements
routed to the native snapshot ops, with the update commit carrying BOTH
the positional delete vector and the post-image files atomically.

No reference analog for the execution (the reference sends statements to
Postgres — reference operators.py:12-98); the statement surface itself is
exactly what those delegated statements look like, which is the parity
point."""

from __future__ import annotations

import pytest
from pyspark.errors import ParseException
from pyspark.sql import functions as F

from airflow_postgres_csv_spark.operators.snapshots import (
    SnapshotExpectationError,
    snapshot_add_constraint,
    snapshot_commit,
    snapshot_read,
    snapshot_table_changes,
    snapshot_update_where,
    snapshot_versions,
)
from airflow_postgres_csv_spark.operators.sql_dml import snapshot_sql_exec


def _rows(spark, root):
    return {
        (r["id"], r["grp"], r["amt"])
        for r in snapshot_read(spark, root).collect()
    }


def _seed(spark, tmp_path, name="t"):
    root = str(tmp_path / name)
    snapshot_commit(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "a", 30), (4, "c", 40)],
            "id int, grp string, amt int",
        ),
        root,
    )
    return root


def test_update_where_mor_single_commit(spark, tmp_path):
    """One UPDATE = ONE commit: pre-images tombstoned positionally,
    post-images appended; reads see the new values, time travel the old;
    the change feed emits the delete/insert pair with no new machinery;
    duplicate keys are no obstacle (keyless addressing)."""
    root = str(tmp_path / "t")
    snapshot_commit(
        spark.createDataFrame(
            # id=1 appears twice — a keyed COW update could not target it
            [(1, "a", 10), (1, "a", 11), (2, "b", 20), (3, "c", 30)],
            "id int, grp string, amt int",
        ),
        root,
    )
    out = snapshot_update_where(
        spark, root, "grp = 'a'", {"amt": "amt + 100"}
    )
    assert out["updated_rows"] == 2 and out["version"] == 2
    assert _rows(spark, root) == {
        (1, "a", 110), (1, "a", 111), (2, "b", 20), (3, "c", 30)
    }
    # time travel: the pre-update image is intact at v1
    v1 = {
        (r["id"], r["amt"])
        for r in snapshot_read(spark, root, version=1).collect()
    }
    assert v1 == {(1, 10), (1, 11), (2, 20), (3, 30)}
    # CDC: the version-2 delta is exactly the delete/insert pairs
    ch = snapshot_table_changes(spark, root, 1, 2).collect()
    got = {(r["_change_type"], r["id"], r["amt"]) for r in ch}
    assert got == {
        ("delete", 1, 10), ("delete", 1, 11),
        ("insert", 1, 110), ("insert", 1, 111),
    }
    # no-match update publishes nothing
    noop = snapshot_update_where(spark, root, "grp = 'zz'", {"amt": "0"})
    assert noop == {"updated_rows": 0, "version": 2, "committed": False}
    assert snapshot_versions(root) == [1, 2]
    # SET expressions referencing other columns + casts
    snapshot_update_where(
        spark, root, "id = 2", {"amt": "id * 1000", "grp": "upper(grp)"}
    )
    assert (2, "B", 2000) in _rows(spark, root)


def test_update_where_respects_constraints(spark, tmp_path):
    root = _seed(spark, tmp_path)
    snapshot_add_constraint(spark, root, "amt_pos", "amt >= 0")
    with pytest.raises(SnapshotExpectationError):
        snapshot_update_where(spark, root, "grp = 'a'", {"amt": "-1"})
    # failed update leaves the table untouched
    assert snapshot_versions(root) == [1, 2]
    assert _rows(spark, root) == {
        (1, "a", 10), (2, "b", 20), (3, "a", 30), (4, "c", 40)
    }


def test_sql_delete_update_insert(spark, tmp_path):
    root = _seed(spark, tmp_path)
    t = {"t": root}
    out = snapshot_sql_exec(
        spark, "DELETE FROM t WHERE grp = 'c'", tables=t
    )
    assert out["statement"] == "delete"
    assert _rows(spark, root) == {(1, "a", 10), (2, "b", 20), (3, "a", 30)}

    out = snapshot_sql_exec(
        spark,
        "UPDATE t SET amt = amt + least(5, id), grp = concat(grp, '!') "
        "WHERE id >= 2;",
        tables=t,
    )
    assert out["statement"] == "update" and out["updated_rows"] == 2
    assert _rows(spark, root) == {
        (1, "a", 10), (2, "b!", 22), (3, "a!", 33)
    }

    out = snapshot_sql_exec(
        spark, "INSERT INTO t VALUES (9, 'z', 90), (10, 'z', 100)",
        tables=t,
    )
    assert out["statement"] == "insert_append"
    assert (9, "z", 90) in _rows(spark, root)
    # column-list insert: unlisted columns fill NULL
    snapshot_sql_exec(
        spark, "INSERT INTO t (id, grp) VALUES (11, 'n')", tables=t
    )
    row11 = [
        r for r in snapshot_read(spark, root).collect() if r["id"] == 11
    ]
    assert row11[0]["amt"] is None and row11[0]["grp"] == "n"

    # INSERT ... SELECT over a registered snapshot view
    from airflow_postgres_csv_spark.sources.snapshot_batch import (
        snapshot_sql_register,
    )

    other = _seed(spark, tmp_path, "src_tbl")
    snapshot_sql_register(spark, "src_tbl", other)
    snapshot_sql_exec(
        spark,
        "INSERT INTO t SELECT id + 100, grp, amt FROM src_tbl "
        "WHERE grp = 'b'",
        tables=t,
    )
    assert (102, "b", 20) in _rows(spark, root)

    # INSERT OVERWRITE replaces the live rows (history stays)
    before = snapshot_versions(root)[-1]
    snapshot_sql_exec(
        spark, "INSERT OVERWRITE t VALUES (1, 'only', 1)", tables=t
    )
    assert _rows(spark, root) == {(1, "only", 1)}
    assert len(snapshot_read(spark, root, version=before).collect()) > 1


def test_sql_exec_registry_resolution_and_guards(spark, tmp_path):
    from airflow_postgres_csv_spark.sources.snapshot_batch import (
        snapshot_sql_register,
    )

    root = _seed(spark, tmp_path)
    snapshot_sql_register(spark, "dml_reg", root)
    snapshot_sql_exec(spark, "DELETE FROM dml_reg WHERE id = 4")
    assert (4, "c", 40) not in _rows(spark, root)
    # version-pinned registration refuses DML
    snapshot_sql_register(spark, "dml_pin", root, version=1)
    with pytest.raises(ValueError, match="version/catalog"):
        snapshot_sql_exec(spark, "DELETE FROM dml_pin")
    with pytest.raises(KeyError, match="not resolvable"):
        snapshot_sql_exec(spark, "DELETE FROM no_such_table")
    with pytest.raises(ValueError, match="unsupported statement"):
        snapshot_sql_exec(spark, "SELECT * FROM dml_reg")


def test_sql_merge_full_clause_surface(spark, tmp_path):
    """MERGE INTO with UPDATE SET + DELETE + INSERT * + NOT MATCHED BY
    SOURCE, aliases rewritten to the operator's t/s convention."""
    root = str(tmp_path / "tgt")
    snapshot_commit(
        spark.createDataFrame(
            [(1, 100), (2, 200), (3, 300), (4, 400)], "k int, v int"
        ),
        root,
    )
    src = spark.createDataFrame(
        [(2, 20), (3, -1), (5, 500)], "k int, v int"
    )
    src.createOrReplaceTempView("dml_merge_src")
    out = snapshot_sql_exec(
        spark,
        """
        MERGE INTO tgt AS g USING dml_merge_src AS u ON g.k = u.k
        WHEN MATCHED AND u.v < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = g.v + u.v
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND g.k = 1 THEN DELETE
        """,
        tables={"tgt": root},
    )
    assert out["statement"] == "merge"
    got = {(r["k"], r["v"]) for r in snapshot_read(spark, root).collect()}
    # 1 deleted (not matched by source), 2 updated, 3 deleted (v<0),
    # 4 carried, 5 inserted
    assert got == {(2, 220), (4, 400), (5, 500)}

    # subquery source with required alias; no NOT MATCHED clause = no
    # inserts
    snapshot_sql_exec(
        spark,
        "MERGE INTO tgt AS g "
        "USING (SELECT k, v * 2 AS v FROM dml_merge_src WHERE k = 5) s2 "
        "ON g.k = s2.k "
        "WHEN MATCHED THEN UPDATE SET v = s2.v",
        tables={"tgt": root},
    )
    got = {(r["k"], r["v"]) for r in snapshot_read(spark, root).collect()}
    assert got == {(2, 220), (4, 400), (5, 1000)}

    with pytest.raises(ValueError, match="single equality"):
        snapshot_sql_exec(
            spark,
            "MERGE INTO tgt AS g USING dml_merge_src AS u "
            "ON g.k = u.k AND g.v = u.v WHEN MATCHED THEN DELETE",
            tables={"tgt": root},
        )


def test_apply_changes_replays_keyless_update(spark, tmp_path):
    """CDC replay of an update-mor commit: the version carries BOTH a
    positional tombstone (pre-images) and appended post-image files
    under the SAME keys — the replay must delete-then-upsert, or the
    tombstone erases the rows it just wrote (the order regression this
    pins). Also covers an update that rewrites the key column itself."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        snapshot_apply_changes,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    snapshot_commit(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "a", 30)],
            "id int, grp string, amt int",
        ),
        src,
    )
    snapshot_apply_changes(spark, src, dst, "id")
    snapshot_update_where(spark, src, "grp = 'a'", {"amt": "amt * 10"})
    out = snapshot_apply_changes(spark, src, dst, "id")
    assert out["append_batches"] == 1 and out["delete_batches"] == 1
    want = {
        (r["id"], r["amt"]) for r in snapshot_read(spark, src).collect()
    }
    got = {(r["id"], r["amt"]) for r in snapshot_read(spark, dst).collect()}
    assert got == want == {(1, 100), (2, 20), (3, 300)}
    # key-rewriting update: id 2 becomes id 20 (pre-key deleted, new
    # key inserted downstream)
    snapshot_update_where(spark, src, "id = 2", {"id": "id * 10"})
    snapshot_apply_changes(spark, src, dst, "id")
    got = {(r["id"], r["amt"]) for r in snapshot_read(spark, dst).collect()}
    assert got == {(1, 100), (20, 20), (3, 300)}


def test_update_where_then_compact_folds_vector(spark, tmp_path):
    """Compaction after a keyless update folds the delete vector: the
    rewritten files hold the post-update rows, the tombstone dies with
    the files it addressed, and reads stay identical."""
    from airflow_postgres_csv_spark.operators.snapshots import (
        _load_manifest,
        snapshot_compact,
    )

    root = _seed(spark, tmp_path)
    snapshot_update_where(spark, root, "grp = 'a'", {"amt": "amt + 1"})
    before = _rows(spark, root)
    snapshot_compact(spark, root)
    head = _load_manifest(root, snapshot_versions(root)[-1])
    assert not head.get("tombstones")
    assert _rows(spark, root) == before == {
        (1, "a", 11), (2, "b", 20), (3, "a", 31), (4, "c", 40)
    }


def test_sql_dml_on_wap_branch(spark, tmp_path):
    """DML against a BRANCH registration lands on the branch root — the
    write-audit-publish flow in plain SQL: main is untouched until
    snapshot_publish_branch flips it atomically, update-mor vector files
    and all."""
    from airflow_postgres_csv_spark.operators.branches import (
        snapshot_branch,
        snapshot_publish_branch,
    )
    from airflow_postgres_csv_spark.sources.snapshot_batch import (
        snapshot_sql_register,
    )

    root = _seed(spark, tmp_path)
    snapshot_branch(root, "audit")
    snapshot_sql_register(spark, "dml_wap", root, branch="audit")
    snapshot_sql_exec(
        spark, "UPDATE dml_wap SET amt = amt * 2 WHERE grp = 'a'"
    )
    snapshot_sql_exec(spark, "DELETE FROM dml_wap WHERE grp = 'c'")
    # main untouched; the branch registration reads the staged state
    assert _rows(spark, root) == {
        (1, "a", 10), (2, "b", 20), (3, "a", 30), (4, "c", 40)
    }
    staged = {
        (r["id"], r["amt"])
        for r in spark.sql("SELECT id, amt FROM dml_wap").collect()
    }
    assert staged == {(1, 20), (2, 20), (3, 60)}
    snapshot_publish_branch(root, "audit")
    assert _rows(spark, root) == {(1, "a", 20), (2, "b", 20), (3, "a", 60)}


def test_catalog_sql_exec_pins_atomically(spark, tmp_path):
    """DML through the catalog: the statement runs on the pinned head and
    the catalog pin advances with it — readers flip worlds in one catalog
    version; out-of-band drift between pin and head is refused; a
    no-match UPDATE leaves the catalog untouched."""
    from airflow_postgres_csv_spark.operators.catalog_txn import (
        catalog_read,
        catalog_txn,
        catalog_versions,
    )
    from airflow_postgres_csv_spark.operators.sql_dml import (
        catalog_sql_exec,
    )

    cat = str(tmp_path / "cat")
    root = str(tmp_path / "t")
    catalog_txn(cat, [{
        "name": "gold.t", "root": root,
        "df": spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "a", 30)],
            "id int, grp string, amt int",
        ),
    }])
    v0 = catalog_versions(cat)[-1]
    out = catalog_sql_exec(
        spark, cat, "UPDATE `gold.t` SET amt = amt + 1 WHERE grp = 'a'"
    )
    assert out["pinned"] and out["updated_rows"] == 2
    assert out["catalog_version"] == v0 + 1
    got = {
        (r["id"], r["amt"])
        for r in catalog_read(spark, cat, "gold.t").collect()
    }
    assert got == {(1, 11), (2, 20), (3, 31)}
    # catalog time travel still serves the pre-DML world
    old = {
        (r["id"], r["amt"])
        for r in catalog_read(
            spark, cat, "gold.t", catalog_version=v0
        ).collect()
    }
    assert old == {(1, 10), (2, 20), (3, 30)}
    # no-match: nothing committed, nothing pinned
    noop = catalog_sql_exec(
        spark, cat, "UPDATE `gold.t` SET amt = 0 WHERE grp = 'zz'"
    )
    assert noop == {
        "updated_rows": 0, "version": 2, "committed": False,
        "statement": "update", "catalog_version": None, "pinned": False,
    }
    assert catalog_versions(cat)[-1] == v0 + 1
    # out-of-band drift refused
    snapshot_commit(
        spark.createDataFrame([(9, "z", 90)], "id int, grp string, amt int"),
        root, mode="append",
    )
    with pytest.raises(ValueError, match="out-of-band"):
        catalog_sql_exec(spark, cat, "DELETE FROM `gold.t` WHERE id = 1")


def test_parser_literals_and_alias_hardening(spark, tmp_path):
    """Review-pass regressions: keywords inside string literals must not
    bind ('where' in a SET literal, commas/escapes in literals); a MERGE
    source aliased literally 't' must not have target refs re-rewritten;
    duplicate/reordered MERGE clauses and duplicate INSERT columns are
    refused."""
    root = _seed(spark, tmp_path)
    t = {"t": root}
    # 'where' inside a literal: statement has NO WHERE clause
    out = snapshot_sql_exec(
        spark, "UPDATE t SET grp = 'fix where broken'", tables=t
    )
    assert out["updated_rows"] == 4
    assert {r["grp"] for r in snapshot_read(spark, root).collect()} == {
        "fix where broken"
    }
    # comma + escaped quote inside a literal in a multi-assignment SET
    snapshot_sql_exec(
        spark,
        "UPDATE t SET grp = 'a,b''c', amt = amt + 1 WHERE id = 1",
        tables=t,
    )
    row = [r for r in snapshot_read(spark, root).collect() if r["id"] == 1]
    assert row[0]["grp"] == "a,b'c" and row[0]["amt"] == 11

    # MERGE whose SOURCE alias is literally 't' — t.v must stay the
    # SOURCE's value and g.v the target's
    tgt = str(tmp_path / "m")
    snapshot_commit(
        spark.createDataFrame([(1, 100)], "k int, v int"), tgt
    )
    spark.createDataFrame([(1, 7)], "k int, v int").createOrReplaceTempView(
        "dml_alias_src"
    )
    snapshot_sql_exec(
        spark,
        "MERGE INTO m AS g USING dml_alias_src AS t ON g.k = t.k "
        "WHEN MATCHED THEN UPDATE SET v = g.v + t.v",
        tables={"m": tgt},
    )
    assert snapshot_read(spark, tgt).collect()[0]["v"] == 107

    # duplicate clause kind / UPDATE-before-DELETE order refused
    with pytest.raises(ValueError, match="duplicate WHEN clause"):
        snapshot_sql_exec(
            spark,
            "MERGE INTO m AS g USING dml_alias_src AS s ON g.k = s.k "
            "WHEN MATCHED AND s.v < 0 THEN UPDATE SET v = 0 "
            "WHEN MATCHED THEN UPDATE SET v = s.v",
            tables={"m": tgt},
        )
    # an unconditional UPDATE before a DELETE never reaches this engine:
    # Spark's parser refuses it first
    with pytest.raises(
        ParseException, match="NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION"
    ):
        snapshot_sql_exec(
            spark,
            "MERGE INTO m AS g USING dml_alias_src AS s ON g.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN MATCHED AND s.v < 0 THEN DELETE",
            tables={"m": tgt},
        )
    with pytest.raises(ValueError, match="DELETE first"):
        snapshot_sql_exec(
            spark,
            "MERGE INTO m AS g USING dml_alias_src AS s ON g.k = s.k "
            "WHEN MATCHED AND s.v > 0 THEN UPDATE SET v = s.v "
            "WHEN MATCHED AND s.v < 0 THEN DELETE",
            tables={"m": tgt},
        )
    with pytest.raises(ValueError, match="duplicate INSERT column"):
        snapshot_sql_exec(
            spark, "INSERT INTO t (id, id) VALUES (7, 8)", tables=t
        )


# Statements as Spark's own parser reads them: comments, literals holding
# keywords, quoted identifiers and nested subqueries, each run on a fresh
# copy of the ``_seed`` table. SEED is the untouched table.
SEED = {(1, "a", 10), (2, "b", 20), (3, "a", 30), (4, "c", 40)}
GRID = [
    # commented-out clauses change nothing
    ("UPDATE t SET amt = 0 -- WHERE id = 1",
     {(1, "a", 0), (2, "b", 0), (3, "a", 0), (4, "c", 0)}),
    ("MERGE INTO t AS g USING dml_grid_src AS u ON g.id = u.id "
     "WHEN MATCHED THEN UPDATE SET amt = u.amt "
     "-- WHEN NOT MATCHED THEN INSERT *",
     SEED - {(2, "b", 20)} | {(2, "b", 7)}),
    # comments between clauses
    ("DELETE FROM t -- c\nWHERE id = 1", SEED - {(1, "a", 10)}),
    ("DELETE FROM t /* where */ WHERE id = 2", SEED - {(2, "b", 20)}),
    ("UPDATE t SET amt = 5 /* WHERE id = 1 */ WHERE id = 2",
     SEED - {(2, "b", 20)} | {(2, "b", 5)}),
    ("INSERT INTO t (id, grp) -- c\nVALUES (9, 'z')",
     SEED | {(9, "z", None)}),
    # keywords, commas and quotes inside literals
    ("UPDATE t SET grp = 'fix where broken'",
     {(1, "fix where broken", 10), (2, "fix where broken", 20),
      (3, "fix where broken", 30), (4, "fix where broken", 40)}),
    ("UPDATE t SET grp = 'a,b''c', amt = amt + 1 WHERE id = 1",
     SEED - {(1, "a", 10)} | {(1, "a,b'c", 11)}),
    ('UPDATE t SET grp = "x where y" WHERE id = 3',
     SEED - {(3, "a", 30)} | {(3, "x where y", 30)}),
    ("UPDATE t SET `amt` = amt * 2 WHERE grp = 'a'",
     {(1, "a", 20), (2, "b", 20), (3, "a", 60), (4, "c", 40)}),
    ("UPDATE t SET grp = '😀é' WHERE id = 4",
     SEED - {(4, "c", 40)} | {(4, "😀é", 40)}),
    # predicates whose node span starts at their keyword, and the shared
    # FALSE literal
    ("DELETE FROM t WHERE amt BETWEEN 15 AND 35",
     {(1, "a", 10), (4, "c", 40)}),
    ("DELETE FROM t WHERE -amt NOT IN (-10, -40)",
     {(1, "a", 10), (4, "c", 40)}),
    ("DELETE FROM t WHERE false", SEED),
    # a subquery source with its own parenthesised IN (SELECT ...)
    ("MERGE INTO t AS g USING (SELECT id, grp, amt * 10 AS amt "
     "FROM dml_grid_src WHERE id IN (SELECT id FROM dml_grid_src "
     "WHERE amt < (10))) AS u ON g.id = u.id "
     "WHEN MATCHED THEN UPDATE SET amt = u.amt "
     "WHEN NOT MATCHED THEN INSERT *",
     SEED - {(2, "b", 20)} | {(2, "b", 70)}),
    # a source aliased literally t; 'g.x' inside a literal stays text
    ("MERGE INTO t AS g USING dml_grid_src AS t ON g.id = t.id "
     "WHEN MATCHED AND t.grp <> 'g.x' THEN UPDATE SET amt = g.amt + t.amt "
     "WHEN NOT MATCHED THEN INSERT *",
     SEED - {(2, "b", 20)} | {(2, "b", 27), (5, "n", 50)}),
]


@pytest.mark.parametrize("stmt,want", GRID, ids=[s for s, _ in GRID])
def test_statement_grid_reads_as_spark_parses(spark, tmp_path, stmt, want):
    spark.createDataFrame(
        [(2, "q", 7), (5, "n", 50)], "id int, grp string, amt int"
    ).createOrReplaceTempView("dml_grid_src")
    root = _seed(spark, tmp_path)
    snapshot_sql_exec(spark, stmt, tables={"t": root})
    assert _rows(spark, root) == want


def test_parse_and_route_py4j_budget(spark, py4j_calls, monkeypatch):
    """Parsing a statement and routing it to its operator stays within a
    fixed number of gateway calls (measured on pyspark 4.1.2, plus about
    20% headroom): the operators are stubbed, so only the parse, the
    table name, the expression slices and the MERGE source count."""
    from airflow_postgres_csv_spark.operators import sql_dml

    routed = {}

    def stub(name):
        def op(*args, **kwargs):
            routed[name] = (args, kwargs)
            return {}
        return op

    for name in ("snapshot_update_where", "snapshot_merge_into"):
        monkeypatch.setattr(sql_dml, name, stub(name))
    spark.createDataFrame(
        [(1, "a", 5)], "id int, grp string, amt int"
    ).createOrReplaceTempView("dml_pin_src")
    t = {"t": "unused-root"}
    with py4j_calls() as update:
        snapshot_sql_exec(
            spark, "UPDATE t SET amt = amt + 1 WHERE id % 250 = 7", tables=t
        )
    assert routed["snapshot_update_where"][0][2:] == (
        "id % 250 = 7", {"amt": "amt + 1"}
    )
    with py4j_calls() as merge:
        snapshot_sql_exec(
            spark,
            "MERGE INTO t AS g USING dml_pin_src AS u ON g.id = u.id "
            "WHEN MATCHED AND u.amt > 30 THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET amt = g.amt + 7 "
            "WHEN NOT MATCHED THEN INSERT * "
            "WHEN NOT MATCHED BY SOURCE AND g.grp = 'x' THEN DELETE",
            tables=t,
        )
    kw = routed["snapshot_merge_into"][1]
    assert kw["matched_delete_condition"] == "s.`amt` > 30"
    assert kw["matched_update"] == {"amt": "t.`amt` + 7"}
    assert kw["not_matched_by_source_delete"] == "t.`grp` = 'x'"
    # measured: 72 and 136 (six calls per expression node, plus the
    # MERGE source's spark.sql)
    assert update.calls <= 86, update.calls
    assert merge.calls <= 163, merge.calls
