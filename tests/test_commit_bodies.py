"""Manifest bodies of every snapshot writer.

One table is scripted through every writer (appends with every sticky
config, a staged data-source append, COW and MOR DML, ALTER and
constraints, sketch backfill, the three compactions, rollback, clone and
both branch publishes). Each resulting manifest is normalized and compared
with ``golden/commit_bodies.json``, recorded before the writers shared one
body assembly; the differences listed in ``_FIXED_KEYS`` are the ones that
assembly fixed on purpose. The golden ``last_batch_id`` of the fast-forward
publish and the append after it was edited to 2 by hand when that publish
started keeping main's stream stamps (it had been absent).
"""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from airflow_postgres_csv_spark.operators import snapshots as S
from airflow_postgres_csv_spark.operators.branches import (
    snapshot_branch,
    snapshot_publish_branch,
)
from airflow_postgres_csv_spark.sources.snapshot_batch import register_snapshot_table

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "commit_bodies.json")

# Spark part-file job uuids, data-source part-file uuids, commit ids
_UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
_HEX32 = re.compile(r"(?<![0-9a-f])[0-9a-f]{32}(?![0-9a-f])")
_CID = re.compile(r"(?<![0-9a-f])[0-9a-f]{12}(?![0-9a-f])")
_TOKEN = re.compile(r"<c\d+>")
# part number: the hash partition a partition tuple lands in
_PART = re.compile(r"part-\d{5}-")


def _frame(spark, ids, lang, cols=("id", "lang", "amt")):
    rows = [(i, lang, i * 10) + (None,) * (len(cols) - 3) for i in ids]
    types = {"id": "bigint", "lang": "string", "amt": "bigint",
             "amount": "bigint", "tag": "string"}
    return spark.createDataFrame(rows, ", ".join(f"{c} {types[c]}" for c in cols))


class _Normalizer:
    """Renames commit ids in order of first appearance (a manifest's own
    ``commit_id`` first), so two runs with different random ids compare
    equal; lists of id-bearing strings are sorted after renaming because
    the writers sort them by the random ids."""

    def __init__(self):
        self.names: dict[str, str] = {}

    def _name(self, cid: str) -> str:
        if cid not in self.names:
            self.names[cid] = f"<c{len(self.names)}>"
        return self.names[cid]

    def _fix(self, v):
        if isinstance(v, dict):
            return {self._fix(k): self._fix(x) for k, x in v.items()}
        if isinstance(v, list):
            out = [self._fix(x) for x in v]
            if out and all(isinstance(x, str) and _TOKEN.search(x) for x in out):
                out.sort()
            return out
        if isinstance(v, str):
            v = _PART.sub("part-", _HEX32.sub("<u>", _UUID.sub("<u>", v)))
            return _CID.sub(lambda m: self._name(m.group(0)), v)
        return v

    def __call__(self, manifest: dict) -> dict:
        self._name(manifest["commit_id"])
        for cid in _CID.findall(_UUID.sub("", json.dumps(manifest, sort_keys=True))):
            self._name(cid)
        out = self._fix(manifest)
        out["committed_at"] = 0
        return out


def _head_json(root: str) -> dict:
    with open(S._manifest_path(root, S.snapshot_versions(root)[-1])) as f:
        return json.load(f)


def run_script(spark, base: str) -> list[list]:
    """[step, normalized manifest] for every manifest the script
    publishes, in order."""
    root = os.path.join(base, "t")
    clone_root = os.path.join(base, "clone")
    norm = _Normalizer()
    out: list[list] = []

    def rec(step, r=root):
        out.append([step, norm(_head_json(r))])

    cols = ("id", "lang", "amt")
    S.snapshot_commit(
        _frame(spark, range(0, 6), "en").unionByName(_frame(spark, range(6, 10), "fr")),
        root, bloom_cols=["id"], sketch_cols=["id"], sum_cols=["amt"],
        partition_transforms=[("lang", "identity")], sort_order=["id"],
        column_defaults={"amt": 0},
    )
    rec("append_configured")
    S.snapshot_commit(
        _frame(spark, range(10, 14), "en"), root, extra={"last_batch_id": 1}
    )
    rec("append_plain")
    register_snapshot_table(spark)
    _frame(spark, range(14, 17), "fr").coalesce(1).write.format(
        "snapshot_table"
    ).mode("append").save(root)
    rec("append_staged")
    S.snapshot_merge(
        spark, root, _frame(spark, [2, 20], "en"), "id", extra={"last_batch_id": 2}
    )
    rec("merge")
    S.snapshot_merge_into(
        spark, root,
        _frame(spark, [3, 21], "en").withColumn("tag", F.lit("x")),
        "id", matched_update={"amt": "s.amt + 1"}, merge_schema=True,
    )
    rec("merge_into_schema")
    cols = ("id", "lang", "amt", "tag")
    S.snapshot_delete(spark, root, "id", 4, 4)
    rec("delete_cow")
    S.snapshot_delete_mor(spark, root, "id = 5", "id")
    rec("delete_mor")
    S.snapshot_delete_positional(spark, root, "id = 7")
    rec("delete_positional")
    S.snapshot_update_where(spark, root, "id = 9", {"amt": "amt + 1"})
    rec("update_where")
    S.snapshot_alter(root, rename={"amt": "amount"})
    rec("alter_rename")
    cols = ("id", "lang", "amount", "tag")
    S.snapshot_add_constraint(spark, root, "nonneg", "amount >= 0")
    rec("add_constraint")
    S.snapshot_drop_constraint(root, "nonneg")
    rec("drop_constraint")
    S.snapshot_sketch_backfill(spark, root, cols=["lang"])
    rec("sketch_backfill")
    S.snapshot_compact(spark, root)
    rec("compact")
    S.snapshot_commit(_frame(spark, range(30, 33), "en", cols), root)
    rec("append_after_compact")
    S.snapshot_commit(_frame(spark, range(33, 36), "en", cols), root)
    rec("append_after_compact_2")
    S.snapshot_compact_partition(spark, root, {"lang": "en"})
    rec("compact_partition")
    S.snapshot_optimize_incremental(spark, root, zorder_by=("id", "amount"))
    rec("optimize_incremental")
    optimized = S.snapshot_versions(root)[-1]
    S.snapshot_commit(_frame(spark, range(40, 43), "fr", cols), root)
    rec("append_after_optimize")
    S.snapshot_rollback(spark, root, optimized)
    rec("rollback")
    S.snapshot_clone(root, clone_root)
    rec("clone", clone_root)
    broot = snapshot_branch(root, "ff")
    rec("branch", broot)
    S.snapshot_commit(_frame(spark, range(50, 53), "en", cols), broot)
    rec("branch_append", broot)
    snapshot_publish_branch(root, "ff")
    rec("publish_fast_forward")
    broot = snapshot_branch(root, "rb")
    S.snapshot_commit(
        _frame(spark, range(60, 63), "en", cols), broot, extra={"last_batch_id": 7}
    )
    rec("branch_append_2", broot)
    S.snapshot_commit(_frame(spark, range(70, 73), "fr", cols), root)
    rec("append_beside_branch")
    snapshot_publish_branch(root, "rb", rebase=True)
    rec("publish_rebase")
    return out


# Keys the shared body assembly carries where the hand-built bodies
# dropped them: the incremental-OPTIMIZE stamp through rollback, clone,
# branch and publish, and the Bloom config through staged appends and
# constraint commits (and so through every later commit).
_FIXED_KEYS = ("optimized_commits", "bloom")


@pytest.fixture()
def _pushdown(spark):
    old = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
    yield
    spark.conf.set("spark.sql.python.filterPushdown.enabled", old)


def test_every_writer_matches_golden_body(spark, tmp_path, _pushdown):
    got = run_script(spark, str(tmp_path))
    with open(GOLDEN) as f:
        want = json.load(f)
    assert [s for s, _ in got] == [s for s, _ in want]
    bloom = got[0][1]["bloom"]
    for (step, g), (_, w) in zip(got, want):
        for key in _FIXED_KEYS:
            assert w.get(key) in (None, g.get(key)), (step, key)
        assert {k: v for k, v in g.items() if k not in _FIXED_KEYS} == {
            k: v for k, v in w.items() if k not in _FIXED_KEYS
        }, step
        assert g.get("bloom") == bloom, step
    steps = [s for s, _ in got]
    stamped = [s for s, g in got if g.get("optimized_commits")]
    assert stamped == steps[steps.index("optimize_incremental"):]


def test_optimized_stamp_survives_rollback_clone_branch_publish(spark, tmp_path):
    """The incremental-OPTIMIZE stamp is table state: rollback, clone,
    branch and both branch publishes keep it, so the maintenance advisor
    and the next OPTIMIZE do not see the clustered commit as new."""
    from airflow_postgres_csv_spark.operators.maintenance import (
        snapshot_maintenance_plan,
    )

    root = str(tmp_path / "t")
    for lo in (0, 10, 20):
        S.snapshot_commit(spark.range(lo, lo + 10).withColumn("v", F.col("id") * 2), root)
    opt = S.snapshot_optimize_incremental(spark, root, zorder_by=("id", "v"))
    stamp = [opt["commit_id"]]
    S.snapshot_commit(spark.range(30, 40).withColumn("v", F.col("id") * 2), root)

    def stamp_of(r):
        return S._load_manifest(r, S.snapshot_versions(r)[-1]).get("optimized_commits")

    S.snapshot_rollback(spark, root, opt["version"])
    assert stamp_of(root) == stamp
    assert snapshot_maintenance_plan(root)["metrics"]["unoptimized_commits"] == 0
    S.snapshot_clone(root, str(tmp_path / "clone"))
    assert stamp_of(str(tmp_path / "clone")) == stamp
    broot = snapshot_branch(root, "ff")
    assert stamp_of(broot) == stamp
    S.snapshot_commit(spark.range(40, 45).withColumn("v", F.col("id") * 2), broot)
    snapshot_publish_branch(root, "ff")
    assert stamp_of(root) == stamp
    broot = snapshot_branch(root, "rb")
    S.snapshot_commit(spark.range(50, 55).withColumn("v", F.col("id") * 2), broot)
    S.snapshot_commit(spark.range(60, 65).withColumn("v", F.col("id") * 2), root)
    snapshot_publish_branch(root, "rb", rebase=True)
    assert stamp_of(root) == stamp
    again = S.snapshot_optimize_incremental(spark, root, zorder_by=("id", "v"))
    assert again["files_kept"] == len(opt["files"])


if __name__ == "__main__":  # record the golden file: python -m tests.test_commit_bodies
    import tempfile

    from airflow_postgres_csv_spark.session import get_spark

    session = get_spark("golden", extra_conf={"spark.sql.shuffle.partitions": "8"})
    with tempfile.TemporaryDirectory() as tmp:
        steps = run_script(session, tmp)
    os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
    with open(GOLDEN, "w") as f:
        json.dump(steps, f, indent=1, sort_keys=True)
        f.write("\n")


# engine-owned keys every writer refuses in ``extra=``
_ENGINE_OWNED = sorted({
    "version", "parent", "committed_at", "mode", "commit_id", "files",
    "n_files", "schema", "commit_files", "commit_schemas", "sidecars",
    "commit_ranges", "tombstones", "bloom", "defaults", "partition_spec",
    "partition_specs", "merge_info", "delete_info", "sketch", "sums",
    "commit_sizes", "commit_sums", "sketch_commits", "small_bytes",
    "commit_partitions", "constraints", "sort_order", "sorted_commits",
    "optimized_commits", "column_history", "retired_columns",
})
# every key an in-package caller stamps through ``extra=``
_CALLER_KEYS = {
    "last_batch_id": 5, "compaction_of": 1, "ann_index": {"k": 1},
    "text_index": {"n_docs": 1}, "classifier": {"labels": 2},
    "classifier_model": {"version": 1}, "ivm_applied_version": 3,
    "ivm_applied_a": 3, "ivm_applied_b": 3, "cdc_applied_version": 3,
}
_WRITERS = {
    "snapshot_commit": lambda spark, root, df, extra: S.snapshot_commit(
        df, root, extra=extra
    ),
    "snapshot_merge": lambda spark, root, df, extra: S.snapshot_merge(
        spark, root, df, "id", extra=extra
    ),
    "snapshot_merge_into": lambda spark, root, df, extra: S.snapshot_merge_into(
        spark, root, df, "id", matched_update={"v": "s.v"}, extra=extra
    ),
    "snapshot_delete_mor": lambda spark, root, df, extra: S.snapshot_delete_mor(
        spark, root, "id = 1", "id", extra=extra
    ),
    "snapshot_update_where": lambda spark, root, df, extra: S.snapshot_update_where(
        spark, root, "id = 1", {"v": "v + 1"}, extra=extra
    ),
    "_publish_key_tombstone": lambda spark, root, df, extra: S._publish_key_tombstone(
        root, df.select("id"), "id", "id = 1", extra=extra
    ),
}


@pytest.mark.parametrize("writer", sorted(_WRITERS))
def test_extra_is_checked_alike_by_every_writer(spark, tmp_path, writer):
    root = str(tmp_path / "t")
    S.snapshot_commit(
        spark.range(0, 10).withColumn("v", F.col("id") * 2), root,
        extra={k: 1 for k in ("last_batch_id", "cdc_applied_version", "ann_index")},
    )
    df = spark.range(1, 2).withColumn("v", F.col("id") * 3)
    data = sorted(os.listdir(os.path.join(root, "data")))
    with pytest.raises(ValueError) as err:
        _WRITERS[writer](spark, root, df, dict.fromkeys(_ENGINE_OWNED, 1))
    assert str(err.value) == (
        f"extra metadata may not override reserved keys: {_ENGINE_OWNED}"
    )
    # refused before anything was written
    assert S.snapshot_versions(root) == [1]
    assert sorted(os.listdir(os.path.join(root, "data"))) == data
    _WRITERS[writer](spark, root, df, dict(_CALLER_KEYS))
    head = S._load_manifest(root, S.snapshot_versions(root)[-1])
    assert S.snapshot_versions(root) == [1, 2]
    assert {k: head.get(k) for k in _CALLER_KEYS} == _CALLER_KEYS
