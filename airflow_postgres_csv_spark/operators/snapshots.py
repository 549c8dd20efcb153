"""Versioned snapshot datasets: manifest-pinned parquet with time travel.

The missing primitive between "a directory of parquet" and a full lakehouse
table format: training-data pipelines need *reproducible dataset versions*
("the run was trained on v12") and *append-without-rewrite* ingestion. This
module provides both with nothing but parquet + JSON manifests, the same
core mechanism as Iceberg/Delta (a commit is one atomic metadata swap that
pins an explicit file list):

- ``snapshot_commit(df, root)`` writes the new rows as parquet under an
  immutable per-commit directory (existing files are NEVER rewritten), then
  publishes ``manifests/v{N}.json`` listing every data file of the new
  version. The manifest is written to a temp name and ``os.link``ed into
  place — a single-file atomic commit point that FAILS if a concurrent
  writer got there first (first-writer-wins optimistic concurrency, the
  local stand-in for an object store's conditional PUT): readers either
  see v(N-1) or vN, never a torn state, and a crash mid-write leaves only
  an orphaned data directory that ``snapshot_expire`` collects.
- ``snapshot_read(spark, root, version=...)`` reads the EXACT file list the
  manifest pins. Concurrent commits cannot perturb a running read, and at
  cloud scale the manifest replaces the recursive object-store listing
  (the classic S3 LIST bottleneck: O(files) requests before the first byte
  of data) with one small JSON read.
- ``snapshot_diff`` compares two versions at file granularity — O(manifest)
  set arithmetic, no data scan.
- ``snapshot_expire`` drops old manifests and deletes data files, delete
  (tombstone) files, and stats sidecars no retained version references.

Metadata layout (the 100 TB shape, Iceberg manifest-list style):

- The ROOT manifest stays O(commits + file paths): version lineage, the
  pinned file list, the table schema, per-commit schema + column [min,max]
  ranges, sidecar pointers, bloom config, and merge-on-read tombstones.
  It holds NO per-file statistics.
- Per-FILE zone maps and Bloom bitsets live in one immutable SIDECAR file
  per commit (``manifests/sc-{commit}.json``), referenced by pointer and
  loaded lazily: a scan first prunes whole commits against the root
  manifest's commit-level ranges, then reads sidecars only for surviving
  commits. At ~1 M files the root manifest stays kilobytes and planning
  I/O is proportional to the data actually scanned, not the table.

100 TB notes: a commit's cost is the write of its OWN rows plus one JSON
rename — independent of table size, so hourly appends to a petabyte table
stay O(batch). Schema is pinned in the manifest (JSON of the Spark schema)
and commits reject drift unless ``allow_schema_change=True``; every
manifest-driven read applies the version's pinned schema (never sampled
file order), aligning older files written under earlier schemas via
NULL/default fill for added columns, pruning for dropped columns, and
safe widening casts (int→long, float→double). Local filesystem
``os.link`` stands in for the object-store atomic swap (S3 conditional
PUT / HDFS rename); no reference analog (extension surface, SURVEY.md
§2.3).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

_MANIFEST_DIR = "manifests"
_DATA_DIR = "data"


def new_sorted_layout(
    forced: bool, cluster_exprs, partition_by, so
) -> bool:
    """Whether the commit being written lands SORTED by the declared
    order: the default write path sorts whenever the order itself drives
    the clustering; maintenance rewrites that pre-shaped the frame pass
    ``_sorted_layout=True`` explicitly."""
    if forced:
        return True
    if cluster_exprs is not None:
        return False
    return partition_by is None or list(partition_by) == list(so)


# Pseudo-column stamp inside each commit_ranges entry (and "stats_v" at the
# sidecar top level): vouches the stats were produced by the coverage-fixed
# writer, so fast_agg may serve them as EXACT. Propagates for free with the
# structures themselves (branch publish, COW retain, rename) — no new carry
# key. "\x00" cannot collide with a real column name.
_STATS_V_KEY = "\x00stats_v"

# Keys the engine assembles itself; ``extra`` metadata may not clobber them.
_RESERVED_KEYS = frozenset(
    {
        "version", "parent", "mode", "commit_id", "files", "n_files",
        "schema", "commit_schemas", "sidecars", "commit_ranges",
        "tombstones", "bloom", "defaults", "partition_spec", "merge_info",
        "delete_info", "committed_at", "commit_files", "sketch",
        "commit_sizes", "sketch_commits", "small_bytes",
        "partition_specs", "commit_partitions", "constraints",
        "sums", "commit_sums", "sort_order", "sorted_commits",
    }
)

# The size-rollup's recorded "small file" threshold: ¼ of the advisor's
# default 128 MiB compaction target. Per-commit ``commit_sizes`` entries
# store ``n_small`` measured against THIS value (pinned per table in the
# manifest's ``small_bytes``), so the default maintenance sweep answers
# from the root manifest alone; an advisor called with a different
# threshold recounts from the commit sidecars' per-file byte maps.
_SMALL_FILE_BYTES = 32 * 1024 * 1024


def _schema_json(df: DataFrame) -> str:
    """Schema pinned in the manifest, nullability-normalized: parquet
    storage is nullable regardless of the writing DataFrame's flags, so
    two frames differing only in nullability are the same table schema."""
    from pyspark.sql.types import StructField, StructType

    norm = StructType(
        [StructField(f.name, f.dataType, True) for f in df.schema.fields]
    )
    return norm.json()


class SnapshotConflictError(RuntimeError):
    """Another writer published this version first (optimistic concurrency:
    the manifest link failed because the target exists). The losing commit's
    data directory is left as an orphan for ``snapshot_expire``; re-run the
    commit to retry against the new latest version."""


class SnapshotExpectationError(ValueError):
    """A write-audit-publish expectation failed; the commit was aborted and
    the staged files removed. ``violations`` maps rule name → row count."""

    def __init__(self, violations: dict[str, int]):
        self.violations = violations
        super().__init__(f"snapshot commit rejected by expectations: {violations}")


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, _MANIFEST_DIR, f"v{version:06d}.json")


def snapshot_versions(root: str) -> list[int]:
    """Committed versions, ascending. [] for a fresh/absent root."""
    mdir = os.path.join(root, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _load_manifest(root: str, version: int) -> dict:
    with open(_manifest_path(root, version)) as f:
        return _LazyManifest(json.load(f), root)


def _commit_of(rel: str) -> str:
    """The commit id a pinned file belongs to (its directory component)."""
    return rel.split(os.sep)[1]


class _LazyManifest(dict):
    """A loaded root manifest whose pinned file list materializes on first
    access. On disk the root is O(commits): ``commit_files`` maps each
    commit id to either an int (ALL n files of the commit — names live in
    the commit's immutable sidecar) or an explicit subset list (a COW
    rewrite retained only some of the commit's files). ``m["files"]``
    fetches the per-commit lists lazily and caches them, so the ~50
    existing consumers keep working unchanged — while pruning-aware read
    paths (``_plan_scan``/``snapshot_lookup_files``) iterate the markers
    directly and never open a pruned commit's sidecar. At 100 TB
    (~10⁶ files) the root stays kilobytes instead of ~100 MB, and a
    pruned read parses metadata proportional to the data it scans."""

    def __init__(self, data: dict, root: str):
        super().__init__(data)
        self._root = root

    def __missing__(self, key):
        if key == "files" and "commit_files" in self:
            files = _materialize_files(self._root, self)
            dict.__setitem__(self, "files", files)
            return files
        raise KeyError(key)

    def __contains__(self, key):
        if key == "files" and dict.__contains__(self, "commit_files"):
            return True
        return dict.__contains__(self, key)

    def get(self, key, default=None):
        if key == "files" and dict.__contains__(self, "commit_files"):
            return self["files"]
        return dict.get(self, key, default)


# Session-scoped sidecar memo (VERDICT r7 item 2). Commit sidecars are
# IMMUTABLE once published: they are fully written before the root
# manifest's atomic link flips and are never edited in place, so caching
# their parsed contents per absolute path is safe by construction. This
# keeps the repeated ``_load_manifest``/``m["files"]`` materializations a
# single query makes (read + plan + diff + publish all reload the root)
# from re-opening and re-parsing the same per-commit metadata. Bounded
# FIFO so a long-lived session (e.g. a streaming driver over a 10⁶-file
# table) stays metadata-sized; entries are tiny relative to the data they
# describe. Consumers treat the returned dict as read-only (audited:
# every call site only ``.get``s / iterates).
_SIDECAR_JSON_CACHE: dict[str, dict] = {}
_SIDECAR_JSON_CACHE_CAP = 4096


def _sidecar_json(root: str, rel: str, strict: bool) -> dict:
    """Parsed content of one commit sidecar, memoized per absolute path.
    ``strict`` propagates open/parse errors (enumeration is correctness);
    lenient callers get ``{}`` (pruning is an optimization). Failures are
    never cached."""
    path = os.path.join(root, rel)
    hit = _SIDECAR_JSON_CACHE.get(path)
    if hit is not None:
        return hit
    try:
        with open(path) as f:
            sc = json.load(f)
    except (OSError, ValueError):
        if strict:
            raise
        return {}
    if len(_SIDECAR_JSON_CACHE) >= _SIDECAR_JSON_CACHE_CAP:
        _SIDECAR_JSON_CACHE.pop(next(iter(_SIDECAR_JSON_CACHE)))
    _SIDECAR_JSON_CACHE[path] = sc
    return sc


def _metadata_cache_clear() -> None:
    """Drop the session-scoped sidecar memo (open()-spy tests and any
    embedder that wants cold-cache behavior)."""
    _SIDECAR_JSON_CACHE.clear()


def _commit_files_from_sidecar(root: str, manifest: dict, cid: str, n: int) -> list[str]:
    """The FULL original file list of one commit, from its immutable
    sidecar. Strict (unlike ``_load_sidecar``): enumeration is
    correctness, not an optimization, so a missing/short sidecar raises
    instead of silently losing files."""
    rel = manifest.get("sidecars", {}).get(cid)
    if not rel:
        raise FileNotFoundError(
            f"commit {cid}: no sidecar pointer — cannot enumerate its files"
        )
    sc = _sidecar_json(root, rel, strict=True)
    files = sc.get("files") or list(sc.get("stats", {}))
    if len(files) != n:
        raise RuntimeError(
            f"commit {cid}: sidecar lists {len(files)} files, manifest "
            f"pins {n} — metadata corruption"
        )
    return files


def _materialize_files(root: str, manifest: dict) -> list[str]:
    """Expand ``commit_files`` markers into the flat pinned file list,
    preserving commit-block order (identical to how writers construct
    ``files``, so round-trips are list-equal)."""
    out: list[str] = []
    for cid, marker in manifest["commit_files"].items():
        if isinstance(marker, list):
            out.extend(marker)
        else:
            out.extend(_commit_files_from_sidecar(root, manifest, cid, marker))
    return out


def _commit_markers(root: str, manifest: dict):
    """Yield ``(cid, n_files, subset_or_None)`` per pinned commit WITHOUT
    loading any sidecar — the planner's iteration primitive. ``subset``
    is the explicit file list when the manifest retains only part of the
    commit (or on legacy manifests), else None (enumerate from the
    sidecar only if the commit survives pruning)."""
    cf = dict.get(manifest, "commit_files")
    if cf is not None:
        for cid, marker in cf.items():
            if isinstance(marker, list):
                yield cid, len(marker), marker
            else:
                yield cid, marker, None
        return
    by_commit: dict[str, list[str]] = {}
    for rel in manifest["files"]:
        by_commit.setdefault(_commit_of(rel), []).append(rel)
    for cid, rels in by_commit.items():
        yield cid, len(rels), rels


def snapshot_files_diff(root: str, prev_m: dict, cur_m: dict) -> tuple[list[str], list[str]]:
    """``(added, removed)`` rel paths between two manifests of one table,
    comparing ``commit_files`` markers and materializing file names ONLY
    for commits whose marker changed — O(changed commits), not O(table).
    This is the planner primitive of the streaming change feed: a
    long-lived stream over a 10⁶-file table diffs each micro-batch's
    version step in a few marker comparisons instead of re-parsing every
    pinned path. Falls back to the full set diff for legacy manifests."""
    pcf = dict.get(prev_m, "commit_files")
    ccf = dict.get(cur_m, "commit_files")
    if pcf is None or ccf is None:
        pf, cf = set(prev_m["files"]), set(cur_m["files"])
        return sorted(cf - pf), sorted(pf - cf)

    def files_of(m, cid, marker):
        if isinstance(marker, list):
            return marker
        return _commit_files_from_sidecar(root, m, cid, marker)

    added: list[str] = []
    removed: list[str] = []
    for cid, cm in ccf.items():
        pm = pcf.get(cid)
        if pm == cm:  # identical marker: the commit is untouched — an int
            continue  # count vouches because file sets only ever shrink
        if pm is None:
            added.extend(files_of(cur_m, cid, cm))
            continue
        pset = set(files_of(prev_m, cid, pm))
        cset = set(files_of(cur_m, cid, cm))
        added.extend(cset - pset)
        removed.extend(pset - cset)
    for cid, pm in pcf.items():
        if cid not in ccf:
            removed.extend(files_of(prev_m, cid, pm))
    return sorted(added), sorted(removed)


def _pack_commit_files(files: list[str], hints: dict) -> dict:
    """Serialize a pinned file list as O(commits) markers: an int when the
    group provably IS the commit's full original set (the count comes
    from ``hints`` — parent/source manifests' markers — or the commit is
    brand new, so the writer's list is complete by construction), else
    the explicit subset list. Only COW-partial commits pay O(their
    files); ingest workloads stay O(commits)."""
    groups: dict[str, list[str]] = {}
    for rel in files:
        groups.setdefault(_commit_of(rel), []).append(rel)
    packed: dict = {}
    for cid, rels in groups.items():
        hint = hints.get(cid)
        if hint is None:
            # unknown to every source manifest: this is the commit the
            # writer just produced — its list is the full set
            packed[cid] = len(rels)
        elif isinstance(hint, int) and len(rels) == hint:
            packed[cid] = hint
        else:
            packed[cid] = rels
    return packed


def _load_sidecar(root: str, manifest: dict, commit_id: str) -> dict:
    """Load one commit's stats sidecar ({"stats": ..., "blooms": ...}),
    memoized per path (sidecars are immutable). A missing/unreadable
    sidecar degrades to no-stats (files are kept — pruning is an
    optimization, never a correctness dependency)."""
    rel = manifest.get("sidecars", {}).get(commit_id)
    if not rel:
        return {}
    return _sidecar_json(root, rel, strict=False)


def _range_disjoint(rng, lo, hi) -> bool:
    """True only when the recorded [min, max] provably cannot intersect
    [lo, hi]. An incomparable pair (e.g. string stats probed with a
    number) is treated as "might match" — the file is kept, the documented
    safe default — instead of surfacing a TypeError from the planner."""
    if rng is None:
        return False
    try:
        return bool(rng[0] > hi or rng[1] < lo)
    except TypeError:
        return False


def _footer_meta(path: str) -> tuple[dict, int]:
    """``(per-column [min, max], row count)`` for one parquet file from
    footer metadata only — ONE footer open serves both the zone maps and
    the commit row-count rollup. Columns whose statistics are absent or
    non-JSON-serializable (nested, binary) are omitted — pruning then
    simply never skips on them (safe default). A column's range is kept
    only when EVERY row group recorded valid stats for it: parquet
    writers drop a row group's statistics when a value exceeds the max
    stats size, and a range merged from the surviving row groups would
    under-cover the file — a pruning decision on it could skip rows."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    out: dict[str, list] = {}
    covered: set[str] | None = None  # cols with stats in every rg so far
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        rg_cols: set[str] = set()
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            try:
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                # parquet writers may TRUNCATE long binary min/max (wider
                # bounds: fine for pruning, wrong for fast_agg's exact
                # MIN/MAX) — honor the exactness flags where this pyarrow
                # exposes them; absent flags mean "writer didn't truncate"
                # for the pyarrow/Spark writers this engine uses
                if (
                    getattr(st, "is_min_value_exact", None) is False
                    or getattr(st, "is_max_value_exact", None) is False
                ):
                    continue
                mn, mx = st.min, st.max
            except NotImplementedError:
                # pyarrow cannot extract stats for some logical types
                # (e.g. DECIMAL) — the column is simply not prunable
                continue
            name = col.path_in_schema
            if "." in name:  # nested — not a prunable top-level column
                continue
            if isinstance(mn, bytes) or isinstance(mx, bytes):
                continue
            if isinstance(mn, (int, float, str, bool)) and isinstance(
                mx, (int, float, str, bool)
            ):
                rg_cols.add(name)
                if name in out:
                    out[name] = [min(out[name][0], mn), max(out[name][1], mx)]
                else:
                    out[name] = [mn, mx]
        covered = rg_cols if covered is None else covered & rg_cols
    for name in list(out):
        if name not in (covered or set()):
            del out[name]
    return out, int(md.num_rows)


def _footer_stats(path: str) -> dict:
    """Per-column [min, max] zone map for one parquet file (see
    ``_footer_meta``)."""
    return _footer_meta(path)[0]


def _rel_by_abs(root: str, rel_files: list[str]) -> dict:
    """Absolute-path -> rel mapping for attributing ``input_file_name``
    rows back to pinned rel paths. Keyed by ABSOLUTE path, never
    basename: hive-partitioned writes repeat one task's part-file name
    across every ``_pN=`` directory."""
    return {
        os.path.abspath(os.path.join(root, rel)): rel for rel in rel_files
    }


def _rel_of_uri(by_abs: dict, uri: str):
    from urllib.parse import unquote, urlparse

    return by_abs.get(os.path.abspath(unquote(urlparse(uri).path)))


def _build_blooms(
    spark: SparkSession, root: str, rel_files: list[str], cols: list[str], m: int, k: int
) -> dict:
    """Per-file Bloom bitsets for ``cols`` over ``rel_files`` — ONE Spark
    job for all files and columns (grouped by input_file_name), collecting
    ≤ files × cols × m/63 tiny (word_idx, word) rows to the driver. Same
    md5 Kirsch-Mitzenmacher probe scheme as operators/sketches.bloom_build,
    so membership is replayable from any engine."""
    from pyspark.sql import functions as F

    from airflow_postgres_csv_spark.operators.sketches import _bloom_bits

    paths = [os.path.join(root, rel) for rel in rel_files]
    by_abs = _rel_by_abs(root, rel_files)
    df = spark.read.parquet(*paths)
    parts = []
    for c in cols:
        if c not in df.columns:
            continue
        bit = F.explode(F.array(*_bloom_bits(F.col(c).cast("string"), k, m)))
        parts.append(
            df.select(
                F.input_file_name().alias("_f"), F.lit(c).alias("_c"), bit.alias("_bit")
            )
        )
    if not parts:
        return {}
    allbits = parts[0]
    for p in parts[1:]:
        allbits = allbits.unionByName(p)
    rel = (
        allbits.select(
            "_f",
            "_c",
            (F.col("_bit") / 63).cast("int").alias("_widx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_bit % 63 AS INT))").alias("_m"),
        )
        .groupBy("_f", "_c", "_widx")
        .agg(F.bit_or("_m").alias("_w"))
        .collect()
    )
    out: dict = {}
    for r in rel:
        relpath = _rel_of_uri(by_abs, r._f)
        if relpath is None:
            continue
        out.setdefault(relpath, {}).setdefault(r._c, {})[str(r._widx)] = r._w
    return out


def _validate_bloom_cols(schema, cols: list[str]) -> None:
    """Bloom columns are restricted to integer/string key types: the
    bitsets are built from Spark's ``CAST(col AS STRING)`` and probed
    driver-side, and only int/string render identically in both (Python
    ``str(1e20)`` vs Spark ``'1.0E20'``, ``True`` vs ``'true'`` would
    silently produce false NEGATIVES — missing rows, not extra scans)."""
    from pyspark.sql.types import (
        ByteType, IntegerType, LongType, ShortType, StringType,
    )

    ok = (ByteType, ShortType, IntegerType, LongType, StringType)
    by_name = {f.name: f.dataType for f in schema.fields}
    for c in cols:
        if c not in by_name:
            raise ValueError(f"bloom_cols: no such column {c!r}")
        if not isinstance(by_name[c], ok):
            raise ValueError(
                f"bloom_cols: column {c!r} has type {by_name[c].simpleString()}; "
                "only integer/string key columns are indexable (float/bool/"
                "complex values do not format identically between the Spark "
                "builder and the driver-side probe)"
            )


def _bloom_probe_key(value) -> str:
    """Normalize a lookup value exactly like the build side's
    ``CAST(col AS STRING)`` for the supported key types."""
    if isinstance(value, bool) or not isinstance(value, (int, str)):
        raise ValueError(
            f"bloom lookup values must be int or string (got {type(value).__name__}); "
            "the bitsets are only built for integer/string key columns"
        )
    return value if isinstance(value, str) else str(value)


def _bloom_might_contain(words: dict, value, m: int, k: int) -> bool:
    """Driver-side probe of one per-file bitset (words: word_idx→int64)."""
    import hashlib

    h = hashlib.md5(_bloom_probe_key(value).encode()).hexdigest()
    h1, h2 = int(h[0:8], 16), int(h[8:16], 16)
    for i in range(k):
        bit = (h1 + i * h2) % m
        w = words.get(str(bit // 63), 0)
        if not (w & (1 << (bit % 63))):
            return False
    return True


def _inherit_maps(prev: dict | None, files: list[str]) -> dict:
    """Carry per-commit metadata (written schemas, sidecar pointers,
    commit-level ranges) for the commits still referenced by ``files``,
    tombstones narrowed to those commits (dropped when none remain), and
    the sticky table-level keys (column defaults, partition spec, the
    streaming sink's high-water batch id).

    Written schemas are materialized EXPLICITLY for every inherited
    commit (an absent entry in ``prev`` means "= prev's table schema" —
    the storage elision ``_publish`` applies), so a commit that CHANGES
    the table schema re-pins every older commit to the schema it was
    actually written under; same-schema commits re-elide on publish."""
    if prev is None:
        return {"commit_schemas": {}, "sidecars": {}, "commit_ranges": {}, "tombstones": []}
    cids = {_commit_of(rel) for rel in files}
    prev_cs = prev.get("commit_schemas", {})
    prev_schema = prev.get("schema")
    out: dict = {
        "commit_schemas": {
            c: s
            for c in cids
            if (s := prev_cs.get(c, prev_schema)) is not None
        },
        "sidecars": {c: p for c, p in prev.get("sidecars", {}).items() if c in cids},
        "commit_ranges": {
            c: r for c, r in prev.get("commit_ranges", {}).items() if c in cids
        },
    }
    tombstones = []
    fileset = set(files)
    for t in prev.get("tombstones", []):
        if t.get("kind") == "positional":
            applies = sorted(set(t["applies"]) & fileset)
            if applies:
                tombstones.append({**t, "applies": applies})
        else:
            applies = sorted(set(t["commits"]) & cids)
            if applies:
                tombstones.append({**t, "commits": applies})
    out["tombstones"] = tombstones
    for key in ("last_batch_id", "defaults", "partition_spec",
                "cdc_applied_version", "ivm_applied_version",
                "ivm_applied_a", "ivm_applied_b", "sketch",
                "small_bytes", "partition_specs", "column_history",
                "retired_columns", "constraints", "sums", "sort_order",
                # persisted-index / model metadata: a maintenance commit
                # (compact, incremental OPTIMIZE, COW delete/merge,
                # rollback) is a row-preserving rewrite of the same
                # logical index — losing the frozen model would break
                # every later serve; rebuilds still replace it because
                # the caller's `extra` is applied after inheritance
                "ann_index", "text_index", "classifier"):
        if key in prev:
            out[key] = prev[key]
    if "commit_partitions" in prev:
        # per-commit partition summaries follow their commits; for a
        # COW-retained SUBSET the full-commit summary remains a valid
        # over-approximation (pruning keeps extra files, never drops)
        out["commit_partitions"] = {
            c: v for c, v in prev["commit_partitions"].items() if c in cids
        }
    if "commit_sizes" in prev:
        # per-commit (n_files, total_bytes, n_small) rollups follow their
        # commits; an entry always describes the commit's FULL original
        # file set (readers consult the subset marker before trusting it)
        out["commit_sizes"] = {
            c: v for c, v in prev["commit_sizes"].items() if c in cids
        }
    if "commit_sums" in prev:
        # same full-set contract as commit_sizes: subset markers gate use
        out["commit_sums"] = {
            c: v for c, v in prev["commit_sums"].items() if c in cids
        }
    if "sketch_commits" in prev:
        out["sketch_commits"] = [c for c in prev["sketch_commits"] if c in cids]
    if "optimized_commits" in prev:
        # clustered-commit stamps survive appends/merges; narrowed to the
        # commits still referenced (a commit whose files all left the
        # table no longer needs the stamp)
        kept = [c for c in prev["optimized_commits"] if c in cids]
        if kept:
            out["optimized_commits"] = kept
    if "sorted_commits" in prev:
        # same contract as optimized_commits: a COW rewrite that keeps a
        # SUBSET of a sorted commit keeps rows sorted — the stamp survives
        kept = [c for c in prev["sorted_commits"] if c in cids]
        if kept:
            out["sorted_commits"] = kept
    return out


def snapshot_commit(
    df: DataFrame,
    root: str,
    mode: str = "append",
    allow_schema_change: bool = False,
    expect: list[tuple[str, str]] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 4096,
    bloom_hashes: int = 4,
    sketch_cols: list[str] | None = None,
    sum_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    partition_transforms: list | None = None,
    sort_order: list[str] | None = None,
    column_defaults: dict | None = None,
    extra: dict | None = None,
    retries: int = 0,
    expected_head: int | None = None,
    _cluster_exprs: list | None = None,
    _sorted_layout: bool = False,
) -> dict:
    """Commit ``df`` as a new version; returns the new manifest dict.

    ``mode='append'`` pins previous files + the new ones; ``'overwrite'``
    pins only the new ones (old files stay on disk for time travel until
    ``snapshot_expire`` collects them). The commit point is the atomic
    link of the manifest JSON — a crash before it leaves the dataset at
    the previous version with only an orphaned data dir to GC.

    ``expect`` is the write-audit-publish gate: ``(name, sql_bool_expr)``
    row-level expectations evaluated over the STAGED files after the write
    but before the manifest publishes. Any violation aborts the commit
    (the staging dir is removed, ``SnapshotExpectationError`` carries the
    per-rule violation counts) and readers never observe the bad batch —
    the batch-level contract enforcement every ingest pipeline needs, with
    the audit reading the exact bytes that would have become the version.

    ``partition_by`` range-clusters the batch on those columns before the
    write and records them as the manifest's partition spec: every file
    (and the commit as a whole) gets a tight extent on the clustering
    columns, so the root manifest's commit-level ranges prune whole
    commits for predicates on them before any sidecar is read.

    ``partition_transforms`` declares an Iceberg-style HIDDEN partition
    spec — ``[("ts", "day"), ("user_id", "bucket", 16)]`` (transforms:
    identity/day/hour/month/year/bucket/truncate, see
    operators/partitioning.py). The batch is written one hive directory
    per partition tuple, exact per-file tuples land in the commit
    sidecar, per-commit value ranges / bucket bitmasks land in the ROOT
    manifest, and the scan planner maps source-column predicates through
    the transforms — pruning that is guaranteed by declared metadata
    rather than inferred from zone-map alignment. The spec is STICKY
    (later plain commits keep partitioning without re-passing it) and
    VERSIONED: re-declaring a different spec appends a new entry, each
    commit pins the spec index it was written under, and pruning applies
    every commit's own transforms (spec evolution). Combine with
    ``partition_by`` to additionally sort rows inside each partition.

    ``column_defaults`` maps column name → value used when reading files
    written BEFORE the column existed (Iceberg's initial-default); columns
    without a default read as NULL in pre-evolution files. Sticky across
    commits, extendable on any later commit.

    ``extra`` merges caller metadata (e.g. the streaming sink's
    ``last_batch_id``) into the manifest dict BEFORE the atomic publish —
    one commit point, so the metadata can never be lost to a crash between
    a commit and a follow-up stamp. Reserved keys are rejected.

    ``expected_head`` pins the commit to the version the caller derived
    it from: if the head moved (a concurrent commit landed between the
    caller's read and this publish), ``SnapshotConflictError`` is raised
    instead of silently basing an overwrite on stale rows — the
    compaction/maintenance race guard.

    ``retries`` is optimistic-concurrency rebase for APPENDS: when a
    concurrent writer wins the version (``SnapshotConflictError``), an
    append commit commutes with any committed history, so the loser's
    already-written data files, audited expectations, and built sidecar
    are all still valid — only the manifest body is reassembled against
    the new head (schema drift and Bloom geometry re-validated) and
    re-published, up to ``retries`` times. Nothing is rescanned or
    rewritten: a rebase costs two JSON reads and one link. ``overwrite``
    conflicts always raise — rebasing an overwrite past a commit it never
    saw would silently discard that commit's rows; the caller must re-read
    and decide. ``expected_head`` and ``retries`` are effectively mutually
    exclusive: a conflict under ``expected_head`` always raises (rebasing
    onto the moved head would silently void the head pin the caller
    requested).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if extra and (bad := set(extra) & _RESERVED_KEYS):
        raise ValueError(f"extra metadata may not override reserved keys: {sorted(bad)}")
    versions = snapshot_versions(root)
    if expected_head is not None and (versions[-1] if versions else 0) != expected_head:
        # the caller derived this commit from a head that is no longer
        # current (maintenance race) — refuse rather than silently
        # basing an overwrite on stale rows; together with the atomic
        # link this closes the interleaving window entirely
        raise SnapshotConflictError(
            f"head moved: expected {expected_head}, "
            f"found {versions[-1] if versions else 0}"
        )
    prev = _load_manifest(root, versions[-1]) if versions else None
    schema_json = _schema_json(df)
    if prev is not None and mode == "append" and not allow_schema_change:
        if prev["schema"] != schema_json:
            raise ValueError(
                "schema drift on append: pass allow_schema_change=True to "
                "accept (old vs new schema differ)"
            )
    # Bloom index: enabled by bloom_cols on any commit, then sticky (the
    # config is inherited from the previous manifest so later plain appends
    # keep indexing without re-passing parameters). Re-specifying with a
    # DIFFERENT geometry is rejected: carried bitsets built with the old
    # (m, k) probed under new values would return false negatives.
    if bloom_cols:
        _validate_bloom_cols(df.schema, list(bloom_cols))
        prev_cfg = prev.get("bloom") if prev else None
        if prev_cfg and (prev_cfg["m"] != bloom_bits or prev_cfg["k"] != bloom_hashes):
            raise ValueError(
                f"bloom geometry change (m={prev_cfg['m']},k={prev_cfg['k']} -> "
                f"m={bloom_bits},k={bloom_hashes}) would poison carried bitsets; "
                "rewrite the table (snapshot_compact) to re-index"
            )
        bloom_cfg = {"cols": list(bloom_cols), "m": bloom_bits, "k": bloom_hashes}
    else:
        bloom_cfg = prev.get("bloom") if prev else None
    # HLL distinct sketches: enabled by sketch_cols on any commit, then
    # sticky (cols UNION across re-specs — sketches have no geometry to
    # poison, unlike Bloom). Commits made while the config is active get
    # per-column union-mergeable sketches in their sidecars.
    if sketch_cols:
        _validate_sketch_cols(df.schema, list(sketch_cols))
        prev_scfg = (prev.get("sketch") if prev else None) or {}
        sketch_cfg = {
            "cols": sorted(set(sketch_cols) | set(prev_scfg.get("cols", [])))
        }
    else:
        sketch_cfg = prev.get("sketch") if prev else None
    # per-commit column sums: enabled by sum_cols on any commit, then
    # sticky with col-set union — same discipline as sketch_cols
    if sum_cols:
        _validate_sum_cols(df.schema, list(sum_cols))
        prev_mcfg = (prev.get("sums") if prev else None) or {}
        sums_cfg = {
            "cols": sorted(set(sum_cols) | set(prev_mcfg.get("cols", [])))
        }
    else:
        sums_cfg = prev.get("sums") if prev else None
    # declared SORT ORDER (Iceberg write-order): sticky like the spec —
    # later plain commits keep sorting without re-passing it. Re-declaring
    # a DIFFERENT order replaces it and voids the previous layout stamps
    # (old commits are not sorted by the new keys). Layout only, never a
    # correctness dependency: pruning reads the zone maps either way.
    order_changed = False
    if sort_order:
        so = [str(c) for c in sort_order]
        _validate_sort_order(df.schema, so)
        prev_so = prev.get("sort_order") if prev else None
        order_changed = prev_so is not None and prev_so != so
    else:
        so = prev.get("sort_order") if prev else None
        if so and any(c not in df.columns for c in so):
            raise ValueError(
                f"this table's declared sort order {so} references "
                "columns missing from the batch — re-declare sort_order= "
                "on this commit (or rename through snapshot_alter, which "
                "follows the order automatically)"
            )
    from airflow_postgres_csv_spark.operators import partitioning as P

    specs = list((prev.get("partition_specs") if prev else None) or [])
    if partition_transforms:
        spec = P.normalize_spec(partition_transforms)
        P.validate_spec(spec, df.schema)
        if not specs or specs[-1] != spec:
            specs.append(spec)  # spec evolution: append, never rewrite
    elif specs:
        spec = specs[-1]  # hidden partitioning: sticky across commits
        P.validate_spec(spec, df.schema)
    else:
        spec = None
    # effective within-write clustering: maintenance exprs win (an EMPTY
    # list means "already shaped upstream, do not re-shuffle"), then the
    # caller's partition_by, then the sticky declared sort order
    eff_cluster = (
        _cluster_exprs
        if _cluster_exprs is not None
        else (partition_by or so)
    )
    stamp_sorted = bool(so) and new_sorted_layout(
        _sorted_layout, _cluster_exprs, partition_by, so
    )
    if spec:
        # _cluster_exprs (maintenance-internal): arbitrary sort Columns —
        # compaction keeps the hidden-partition layout and curve-sorts
        # WITHIN each partition directory
        commit_id, new_files = _write_data(
            df, root,
            partition_cols=P.transform_columns(spec, df.schema),
            cluster_by=eff_cluster,
        )
    else:
        commit_id, new_files = _write_data(df, root, cluster_by=eff_cluster)
    rules = list(expect or []) + sorted(
        ((prev.get("constraints") or {}) if prev else {}).items()
    )
    if rules and new_files:
        violations = _staged_violations(
            df.sparkSession, root, new_files, rules
        )
        if violations:
            shutil.rmtree(os.path.join(root, _DATA_DIR, commit_id), ignore_errors=True)
            raise SnapshotExpectationError(violations)
    sidecar = _new_sidecar(
        df.sparkSession, root, new_files, bloom_cfg, sketch_cfg, sums_cfg
    )
    if spec and new_files:
        # faithful tuples: string fields keep their raw segment text
        # (no int-coercion conflation) — fast paths may trust equality
        sidecar["partitions"], sidecar["tuples_v"] = P.faithful_partitions(
            spec, df.schema, new_files
        )
    while True:
        files = (
            list(prev["files"]) + new_files
            if (prev and mode == "append")
            else new_files
        )
        body = _inherit_maps(prev, files)
        if bloom_cfg:
            body["bloom"] = bloom_cfg
        if sketch_cfg:
            body["sketch"] = sketch_cfg
        if sums_cfg:
            body["sums"] = sums_cfg
        if so:
            body["sort_order"] = so
            if order_changed:
                # old commits are laid out by the PREVIOUS keys — their
                # sorted stamps are void under the new declaration
                body.pop("sorted_commits", None)
            if stamp_sorted and new_files:
                body["sorted_commits"] = sorted(
                    set(body.get("sorted_commits", [])) | {commit_id}
                )
        if column_defaults:
            body["defaults"] = {**body.get("defaults", {}), **column_defaults}
        if partition_by:
            body["partition_spec"] = list(partition_by)
        if extra:
            body.update(extra)
        body.update(
            mode=mode, commit_id=commit_id, files=files, n_files=len(files),
            schema=schema_json,
        )
        if specs:
            body["partition_specs"] = specs
        if new_files:
            body["commit_schemas"][commit_id] = schema_json
            body["commit_ranges"][commit_id] = _merge_ranges(sidecar["stats"])
            if spec:
                tuples = [
                    v for v in sidecar["partitions"].values() if v is not None
                ]
                body.setdefault("commit_partitions", {})[commit_id] = {
                    "s": len(specs) - 1 - specs[::-1].index(spec),
                    "f": P.commit_partition_summary(spec, tuples),
                }
        try:
            return _publish(
                root, versions, body, commit_id, sidecar if new_files else None
            )
        except SnapshotConflictError:
            if retries <= 0 or mode != "append" or expected_head is not None:
                # expected_head pins the commit to the exact version the
                # caller derived it from (catalog_txn's expect_pinned,
                # compaction): rebasing onto a moved head would silently
                # void that pin, so the combination always raises
                raise
            retries -= 1
            # Rebase: data files / audit / per-file stats are commit-scoped
            # and still valid; re-resolve the head and re-validate the two
            # head-dependent contracts (schema drift, Bloom geometry).
            versions = snapshot_versions(root)
            prev = _load_manifest(root, versions[-1]) if versions else None
            # partition specs: our files were WRITTEN under `spec` — adopt
            # the winner's spec history and keep ours addressable in it
            # (the commit_partitions entry re-resolves the index above)
            wspecs = list((prev.get("partition_specs") if prev else None) or [])
            specs = wspecs if (spec is None or spec in wspecs) else wspecs + [spec]
            if (
                prev is not None
                and not allow_schema_change
                and prev["schema"] != schema_json
            ):
                raise ValueError(
                    "schema drift on append rebase: a concurrent winner "
                    "changed the table schema; pass allow_schema_change=True"
                )
            prev_cfg = prev.get("bloom") if prev else None
            if bloom_cols:
                if prev_cfg and (
                    prev_cfg["m"] != bloom_bits or prev_cfg["k"] != bloom_hashes
                ):
                    raise ValueError(
                        "bloom geometry change under a concurrent winner "
                        f"(m={prev_cfg['m']},k={prev_cfg['k']} vs requested "
                        f"m={bloom_bits},k={bloom_hashes}) would poison "
                        "carried bitsets; rewrite (snapshot_compact) to re-index"
                    )
            elif prev_cfg != bloom_cfg:
                # the winner enabled/changed indexing we inherited from the
                # OLD head — re-inherit and rebuild our files' bitsets
                bloom_cfg = prev_cfg
                sidecar.pop("blooms", None)
                if bloom_cfg and new_files:
                    sidecar["blooms"] = _build_blooms(
                        df.sparkSession, root, new_files,
                        bloom_cfg["cols"], bloom_cfg["m"], bloom_cfg["k"],
                    )
            new_scfg = prev.get("sketch") if prev else None
            if not sketch_cols and new_scfg != sketch_cfg:
                # the winner enabled/extended sketching: re-inherit and
                # re-sketch our files so the rebased commit stays
                # metadata-answerable
                sketch_cfg = new_scfg
                sidecar.pop("sketches", None)
                if sketch_cfg and new_files:
                    sk = _build_sketches(
                        df.sparkSession, root, new_files, sketch_cfg["cols"]
                    )
                    if sk:
                        sidecar["sketches"] = sk
            new_mcfg = prev.get("sums") if prev else None
            if not sum_cols and new_mcfg != sums_cfg:
                # same for the sums config: a winner enabling sum_cols
                # must not leave this commit scan-only for SUM forever
                sums_cfg = new_mcfg
                sidecar.pop("sums", None)
                if sums_cfg and new_files:
                    sm = _build_sums(
                        df.sparkSession, root, new_files, sums_cfg["cols"]
                    )
                    if sm:
                        sidecar["sums"] = sm
            # a winner may also have DECLARED constraints after this
            # writer evaluated its rules — re-gate the staged files
            # against any rule not already enforced above
            new_rules = sorted(
                (((prev.get("constraints") or {}) if prev else {})).items()
            )
            pending = [r for r in new_rules if r not in rules]
            if pending and new_files:
                violations = _staged_violations(
                    df.sparkSession, root, new_files, pending
                )
                if violations:
                    shutil.rmtree(
                        os.path.join(root, _DATA_DIR, commit_id),
                        ignore_errors=True,
                    )
                    raise SnapshotExpectationError(violations)
                rules = rules + pending


def snapshot_commit_staged(
    root: str,
    commit_id: str,
    new_files: list[str],
    schema_json: str,
    mode: str = "append",
    retries: int = 0,
    validated_rules: list | None = None,
) -> dict:
    """Publish parquet files ALREADY staged under ``data/<commit_id>/`` as
    the next version — the manifest half of :func:`snapshot_commit` for
    writers that produced the bytes themselves (the ``snapshot_table``
    batch data source's executor-side Arrow writer, or any external
    staging process). Same commit point (one atomic link), same sidecar
    zone maps (from the staged footers — metadata-only), same append
    rebase-on-conflict. Differences, both safe-by-construction:

    - schema drift on append is REJECTED outright (no
      ``allow_schema_change`` escape — evolution goes through
      ``snapshot_commit``, which records defaults);
    - the table's Bloom CONFIG is inherited but bitsets are NOT built for
      the staged files: a file without a bitset is always kept by point
      probes (never skipped wrongly), and the next ``snapshot_compact``
      re-indexes it.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    versions = snapshot_versions(root)
    prev = _load_manifest(root, versions[-1]) if versions else None
    if prev is not None and mode == "append" and prev["schema"] != schema_json:
        raise ValueError(
            "schema drift on staged append: the staged schema differs from "
            "the table's; use snapshot_commit(allow_schema_change=True) "
            "for schema evolution"
        )
    def _check_constraints(manifest) -> None:
        # this path runs in the Python-data-source worker — no
        # SparkSession exists there, so the normal writer check is
        # per-task over in-memory Arrow batches; ``validated_rules``
        # carries the rules that check covered, and anything declared
        # SINCE (or for direct callers: everything) gets a DuckDB pass
        # over the staged files here. Re-run against the CURRENT head on
        # every rebase attempt, so a constraint landing concurrently can
        # never slip past the gate: a hard contract, never skipped.
        declared = (manifest.get("constraints") or {}) if manifest else {}
        pending = [
            r
            for r in sorted(declared.items())
            if r not in (validated_rules or [])
        ]
        if pending and new_files:
            violations = _staged_violations_duckdb(
                [os.path.join(root, rel) for rel in new_files], pending
            )
            if violations:
                shutil.rmtree(
                    os.path.join(root, _DATA_DIR, commit_id),
                    ignore_errors=True,
                )
                raise SnapshotExpectationError(violations)

    _check_constraints(prev)
    _metas = {rel: _footer_meta(os.path.join(root, rel)) for rel in new_files}
    sidecar = {
        "stats": {rel: st for rel, (st, _) in _metas.items()},
        "rows": {rel: n for rel, (_, n) in _metas.items()},
        "stats_v": 1,
    }
    while True:
        files = (
            list(prev["files"]) + new_files
            if (prev and mode == "append")
            else list(new_files)
        )
        body = _inherit_maps(prev, files)
        body.update(
            mode=mode, commit_id=commit_id, files=files, n_files=len(files),
            schema=schema_json,
        )
        if new_files:
            body["commit_schemas"][commit_id] = schema_json
            body["commit_ranges"][commit_id] = _merge_ranges(sidecar["stats"])
        try:
            return _publish(
                root, versions, body, commit_id, sidecar if new_files else None
            )
        except SnapshotConflictError:
            if retries <= 0 or mode != "append":
                raise
            retries -= 1
            versions = snapshot_versions(root)
            prev = _load_manifest(root, versions[-1]) if versions else None
            if prev is not None and prev["schema"] != schema_json:
                raise ValueError(
                    "schema drift on staged-append rebase: a concurrent "
                    "winner changed the table schema"
                )
            _check_constraints(prev)  # a winner may have declared one


def _violation_counts(df: DataFrame, rules) -> dict:
    """``{rule_name: n_violating_rows}`` for boolean SQL rules over any
    DataFrame — ONE aggregation job for all rules; a NULL rule result
    counts as a violation (a rule that cannot decide a row has not been
    satisfied by it). The single definition behind the expect gate,
    declared-constraint enforcement, add-time validation, and rollback
    resurrection checks."""
    from pyspark.sql import functions as F

    counts = df.agg(
        *[
            F.sum(
                (~F.coalesce(F.expr(cond), F.lit(False))).cast("long")
            ).alias(f"__r{i}")
            for i, (_, cond) in enumerate(rules)
        ]
    ).first()
    return {
        name: int(counts[f"__r{i}"])
        for i, (name, _) in enumerate(rules)
        if counts[f"__r{i}"]
    }


def _staged_violations(
    spark: SparkSession, root: str, new_files: list[str], rules
) -> dict:
    """:func:`_violation_counts` over freshly STAGED files. Empty when no
    rules or no files."""
    if not rules or not new_files:
        return {}
    return _violation_counts(
        spark.read.parquet(*[os.path.join(root, rel) for rel in new_files]),
        rules,
    )


def _staged_violations_duckdb(paths: list[str], rules) -> dict:
    """Session-less twin of :func:`_staged_violations`: evaluate boolean
    SQL rules over staged parquet with DuckDB (the Python-data-source
    commit path has no SparkSession). Constraint expressions must
    therefore stay portable ANSI SQL; an expression either engine cannot
    analyze REFUSES the write (loudly) rather than skipping the check."""
    if not rules or not paths:
        return {}
    import duckdb

    con = duckdb.connect()
    try:
        selects = ", ".join(
            f"SUM(CASE WHEN NOT coalesce(({cond}), false) THEN 1 ELSE 0 END)"
            for _, cond in rules
        )
        row = con.execute(
            f"SELECT {selects} FROM read_parquet(?)", [paths]
        ).fetchone()
    finally:
        con.close()
    return {
        name: int(row[i])
        for i, (name, _) in enumerate(rules)
        if row[i]
    }


def _enforce_constraints(
    spark: SparkSession, root: str, manifest: dict, new_files: list[str],
    cleanup_dirs: list[str],
) -> None:
    """Enforce the manifest's DECLARED constraints over a value-
    introducing rewrite's new files (merge / MERGE INTO / UPDATE).
    Row-preserving rewrites (compact, optimize, clone) and row-removing
    ones (COW/MOR delete) cannot introduce violations and skip this.
    On violation the staged dirs are removed and the commit aborts."""
    declared = manifest.get("constraints") or {}
    violations = _staged_violations(
        spark, root, new_files, sorted(declared.items())
    )
    if violations:
        for d in cleanup_dirs:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        raise SnapshotExpectationError(violations)


def _write_data(
    df: DataFrame, root: str, partition_cols: list | None = None,
    cluster_by: list | None = None,  # column names or Column expressions
) -> tuple[str, list[str]]:
    """Write ``df`` under an immutable per-commit dir; return its relative
    parquet paths. No manifest is touched — a crash here leaves only an
    orphan for ``snapshot_expire``.

    ``partition_cols`` (aliased ``_p0.._pk`` transform Columns from
    operators/partitioning.py) switches to a hive-layout partitioned
    write: rows are co-located per partition tuple (one shuffle on the
    DERIVED values, so each tuple lands in one task → one file, not one
    file per tuple per task), the writer drops the derived columns into
    directory names, and the data files keep exactly the source schema.
    ``cluster_by`` additionally sorts rows within each partition."""
    commit_id = uuid.uuid4().hex[:12]
    data_dir = os.path.join(root, _DATA_DIR, commit_id)
    if partition_cols:
        from pyspark.sql import functions as F

        names = [f"_p{i}" for i in range(len(partition_cols))]
        # EXPLICIT partition count: without it AQE coalesces the small
        # post-shuffle side to one task that then writes every hive
        # directory serially (measured: 1.7 s/commit for ~120 tuple dirs
        # on one core). Hashing tuples across defaultParallelism tasks
        # keeps the one-file-per-tuple invariant (each tuple lands in
        # exactly one task) while the directory writes run in parallel.
        staged = df.select("*", *partition_cols).repartition(
            df.sparkSession.sparkContext.defaultParallelism,
            *[F.col(n) for n in names],
        )
        if cluster_by:
            staged = staged.sortWithinPartitions(*cluster_by)
        staged.write.mode("error").partitionBy(*names).parquet(data_dir)
        new_files = sorted(
            os.path.relpath(os.path.join(dirpath, name), root)
            for dirpath, _, fnames in os.walk(data_dir)
            for name in fnames
            if name.endswith(".parquet") and not name.startswith(("_", "."))
        )
        return commit_id, new_files
    if cluster_by:
        df = df.repartitionByRange(*cluster_by).sortWithinPartitions(*cluster_by)
    df.write.mode("error").parquet(data_dir)
    new_files = sorted(
        os.path.join(_DATA_DIR, commit_id, name)
        for name in os.listdir(data_dir)
        if name.endswith(".parquet") and not name.startswith(("_", "."))
    )
    return commit_id, new_files


def _write_rewrite(df: DataFrame, root: str, manifest: dict) -> tuple[str, list[str]]:
    """COW-rewrite write (merge/merge_into/delete): preserves the table's
    declared partition spec when one is active — rewritten rows land one
    directory per partition tuple, so a merge-heavy CDC table keeps its
    guaranteed partition pruning (``_publish`` re-derives the commit's
    partition rollup from the hive paths). A schema that evolved past
    the spec's columns falls back to a plain write (safe: the commit
    simply records no partition values)."""
    specs = manifest.get("partition_specs") or []
    if specs:
        from airflow_postgres_csv_spark.operators import partitioning as P

        spec = specs[-1]
        try:
            P.validate_spec(spec, df.schema)
        except ValueError:
            return _write_data(df, root)
        return _write_data(
            df, root, partition_cols=P.transform_columns(spec, df.schema)
        )
    return _write_data(df, root)


def _new_sidecar(
    spark: SparkSession,
    root: str,
    new_files: list[str],
    bloom_cfg: dict | None,
    sketch_cfg: dict | None = None,
    sums_cfg: dict | None = None,
) -> dict:
    """Per-file zone maps (from the parquet footers the write just
    produced — metadata-only, no data scan), Bloom bitsets, HLL
    distinct-count sketches, and per-file column SUMS for the NEW files
    of one commit. Lives in the commit's immutable sidecar file; the
    root manifest carries only a pointer."""
    metas = {rel: _footer_meta(os.path.join(root, rel)) for rel in new_files}
    stats = {rel: st for rel, (st, _) in metas.items()}
    sidecar = {
        "stats": stats,
        "rows": {rel: n for rel, (_, n) in metas.items()},
        "stats_v": 1,
    }
    if bloom_cfg and new_files:
        sidecar["blooms"] = _build_blooms(
            spark, root, new_files, bloom_cfg["cols"], bloom_cfg["m"], bloom_cfg["k"]
        )
    if sketch_cfg and new_files:
        sk = _build_sketches(spark, root, new_files, sketch_cfg["cols"])
        if sk:
            sidecar["sketches"] = sk
    if sums_cfg and new_files:
        sm = _build_sums(spark, root, new_files, sums_cfg["cols"])
        if sm:
            sidecar["sums"] = sm
    return sidecar


def _build_sums(
    spark: SparkSession, root: str, new_files: list[str], cols: list[str]
) -> dict:
    """Per-file ``{col: [sum, n_nonnull]}`` for the configured INTEGRAL
    columns over one commit's new files — ONE Spark job grouped by
    input file. Python ints are unbounded, so merged totals never
    overflow; ``n_nonnull`` distinguishes a genuine SUM of NULL (no
    non-null rows anywhere) from a zero sum. Columns absent from the
    written schema are simply skipped (pre-evolution rewrites) — the
    reader falls back for them."""
    from pyspark.sql import functions as F

    paths = [os.path.join(root, rel) for rel in new_files]
    by_abs = _rel_by_abs(root, new_files)
    df = spark.read.parquet(*paths)
    present = [c for c in cols if c in df.columns]
    if not present:
        return {}
    aggs = []
    for c in present:
        aggs.append(F.sum(c).alias(f"__s_{c}"))
        aggs.append(F.count(c).alias(f"__n_{c}"))
    rows = (
        df.groupBy(F.input_file_name().alias("__f")).agg(*aggs).collect()
    )
    out: dict = {}
    for r in rows:
        rel = _rel_of_uri(by_abs, r["__f"])
        if rel is None:
            continue
        out[rel] = {
            c: [int(r[f"__s_{c}"] or 0), int(r[f"__n_{c}"])]
            for c in present
        }
    return out


_ORDERABLE = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "string",
    "date", "boolean",
)


def _validate_sort_order(schema, cols: list[str]) -> None:
    by_name = {f.name: f.dataType.simpleString() for f in schema.fields}
    for c in cols:
        if c not in by_name:
            raise ValueError(f"sort_order: no such column {c!r}")
        t = by_name[c]
        if t not in _ORDERABLE and not t.startswith(
            ("decimal", "timestamp")
        ):
            raise ValueError(
                f"sort_order: {c!r} is {t} — declared sort orders support "
                "atomic orderable columns only"
            )


def _validate_sum_cols(schema, cols: list[str]) -> None:
    by_name = {f.name: f.dataType.simpleString() for f in schema.fields}
    for c in cols:
        if c not in by_name:
            raise ValueError(f"sum_cols: no such column {c!r}")
        if by_name[c] not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"sum_cols: {c!r} is {by_name[c]} — metadata sums support "
                "integral columns only (exact, order-independent addition; "
                "store money as integer cents / a scaled long)"
            )


def _build_sketches(
    spark: SparkSession, root: str, new_files: list[str], cols: list[str]
) -> dict:
    """One Datasketches HLL sketch per configured column over a commit's
    new files (Iceberg's Puffin-blob shape, inlined in the commit sidecar
    — a sketch is ~KBs at lgConfigK=12). Per-commit sketches are
    UNION-MERGEABLE, so distinct-count analytics over any version answer
    from metadata alone (``snapshot_approx_distinct``) — no data scan at
    100 TB. Columns absent from this commit's schema are skipped (schema
    evolution); all-null columns produce no sketch."""
    import base64

    from pyspark.sql import functions as F

    staged = spark.read.parquet(*[os.path.join(root, rel) for rel in new_files])
    have = [c for c in cols if c in staged.columns]
    if not have:
        return {}
    row = staged.agg(
        *[F.hll_sketch_agg(F.col(c)).alias(c) for c in have]
    ).first()
    return {
        c: base64.b64encode(bytes(row[c])).decode("ascii")
        for c in have
        if row[c] is not None
    }


def snapshot_approx_distinct(
    spark: SparkSession, root: str, col: str, version: int | None = None
) -> dict:
    """Distinct-count a column over any pinned version from METADATA:
    union-merge the per-commit HLL sketches (``sketch_cols``) — the
    Iceberg-Puffin pattern. At 100 TB a COUNT(DISTINCT) scan is the
    dominant cost of dataset profiling; sketched tables answer it from
    O(commits) kilobyte blobs instead.

    Exactness of scope (never of the estimate — HLL is ±~1.6% at the
    default lgConfigK): a commit's stored sketch covers its FULL original
    row set, so commits that are partially retained (COW kept a subset),
    tombstone-affected (MOR deletes remove rows a sketch can't forget),
    or simply unsketched (written before the config) fall back to
    scanning JUST those commits' files — the merge stays metadata-only
    for every fully-retained sketched commit. Returns ``{"estimate",
    "sketched_commits", "scanned_files"}``; ``scanned_files == 0`` is the
    pure-metadata case the tests pin."""
    import base64

    from pyspark.sql import functions as F

    versions = snapshot_versions(root)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {root}")
    v = resolve_version(root, version)
    if v is None:
        v = versions[-1]
    manifest = _load_manifest(root, v)
    tomb_cids: set = set()
    for t in manifest.get("tombstones", []):
        if t.get("kind") == "positional":
            tomb_cids |= {_commit_of(r) for r in t["applies"]}
        else:
            tomb_cids |= set(t["commits"])
    blobs: list[bytes] = []
    scan_rels: list[str] = []
    for cid, n, subset in _commit_markers(root, manifest):
        blob = (_load_sidecar(root, manifest, cid).get("sketches") or {}).get(col)
        if blob is not None and subset is None and cid not in tomb_cids:
            blobs.append(base64.b64decode(blob))
        elif subset is not None:
            scan_rels.extend(subset)
        else:
            scan_rels.extend(_commit_files_from_sidecar(root, manifest, cid, n))
    from airflow_postgres_csv_spark.operators.localframe import arrow_local_df

    parts = []
    if blobs:
        parts.append(arrow_local_df(spark, [(b,) for b in blobs], "sk binary"))
    if scan_rels:
        parts.append(
            _read_pinned(spark, root, manifest, sorted(scan_rels)).agg(
                F.hll_sketch_agg(F.col(col)).alias("sk")
            )
        )
    if not parts:
        return {"estimate": 0, "sketched_commits": 0, "scanned_files": 0}
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    est = u.agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sk"))).alias("e")
    ).first()["e"]
    return {
        "estimate": int(round(est or 0)),
        "sketched_commits": len(blobs),
        "scanned_files": len(scan_rels),
    }


def snapshot_sketch_backfill(
    spark: SparkSession, root: str, cols: list[str] | None = None
) -> dict:
    """Backfill HLL sketches for commits that predate the sketch config
    (or for newly-added ``cols``) WITHOUT rewriting any data file: each
    full, non-tombstoned commit lacking sketches gets its files scanned
    ONCE, a NEW sidecar written beside the immutable original (same
    stats/blooms, sketches added), and one metadata-only commit repoints
    the sidecar map — older versions keep their original sidecars, so
    time travel is unaffected. Partial (COW-subset) and
    tombstone-affected commits are left alone — their sketches cannot
    represent the live rows; compaction covers them. Cost: one scan of
    exactly the unsketched commits' files; idempotent (a second call
    publishes nothing)."""
    versions = snapshot_versions(root)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {root}")
    manifest = _load_manifest(root, versions[-1])
    cfg = manifest.get("sketch")
    if cols:
        cfg = {"cols": sorted(set(cols) | set((cfg or {}).get("cols", [])))}
    if not cfg:
        raise ValueError(
            "snapshot_sketch_backfill: no sketch config on the table — "
            "pass cols= or commit once with sketch_cols="
        )
    tomb_cids: set = set()
    for t in manifest.get("tombstones", []):
        if t.get("kind") == "positional":
            tomb_cids |= {_commit_of(r) for r in t["applies"]}
        else:
            tomb_cids |= set(t["commits"])
    new_sidecars = dict(manifest.get("sidecars", {}))
    backfilled = 0
    backfilled_cids: list[str] = []
    next_v = versions[-1] + 1
    for cid, n, subset in _commit_markers(root, manifest):
        if subset is not None or cid in tomb_cids:
            continue
        sc = _load_sidecar(root, manifest, cid)
        have = sc.get("sketches") or {}
        missing = [c for c in cfg["cols"] if c not in have]
        if not missing:
            continue
        files = _commit_files_from_sidecar(root, manifest, cid, n)
        sk = _build_sketches(spark, root, files, missing)
        if not sk:
            continue
        new_rel = os.path.join(_MANIFEST_DIR, f"sc-{cid}-bf{next_v}.json")
        body_sc = dict(sc)
        body_sc.setdefault("files", files)
        body_sc["sketches"] = {**have, **sk}
        with open(os.path.join(root, new_rel), "w") as f:
            json.dump(body_sc, f)
        new_sidecars[cid] = new_rel
        backfilled += 1
        backfilled_cids.append(cid)
    if not backfilled and cfg == manifest.get("sketch"):
        out = dict(manifest)
        out["backfilled_commits"] = 0
        return out
    commit_id = uuid.uuid4().hex[:12]
    body = _inherit_maps(manifest, list(manifest["files"]))
    if manifest.get("bloom"):
        body["bloom"] = manifest["bloom"]
    body["sketch"] = cfg
    body["sidecars"] = new_sidecars
    body["sketch_commits"] = sorted(
        set(body.get("sketch_commits", [])) | set(backfilled_cids)
    )
    body.update(
        mode="sketch-backfill", commit_id=commit_id,
        files=list(manifest["files"]), n_files=manifest["n_files"],
        schema=manifest["schema"],
    )
    out = _publish(root, versions, body, commit_id, None)
    out["backfilled_commits"] = backfilled
    return out


_SKETCHABLE = {"int", "bigint", "string", "binary"}


def _validate_sketch_cols(schema, cols: list[str]) -> None:
    by_name = {f.name: f.dataType.simpleString() for f in schema.fields}
    for c in cols:
        if c not in by_name:
            raise ValueError(f"sketch_cols: no such column {c!r}")
        if by_name[c] not in _SKETCHABLE:
            raise ValueError(
                f"sketch_cols: {c!r} is {by_name[c]} — HLL sketches support "
                f"{sorted(_SKETCHABLE)} (Datasketches HLL input types)"
            )


def _merge_ranges(stats: dict) -> dict:
    """Commit-level column ranges: the union of the commit's per-file zone
    maps. Stored in the ROOT manifest (O(commits × cols)), so scans prune
    whole commits before reading any per-file sidecar.

    A column is kept only when EVERY file of the commit recorded a range
    for it: a commit-level range merged from a subset of files would
    under-cover the commit — commit-level pruning on it could skip a
    whole commit whose stats-less file held matching rows, and
    ``snapshot_fast_agg`` would serve the narrowed range as an exact
    MIN/MAX. (Per-file pruning is unaffected: a file without stats is
    simply never skipped.)"""
    out: dict = {}
    covered: set | None = None
    for fstats in stats.values():
        covered = set(fstats) if covered is None else covered & set(fstats)
        for col, rng in fstats.items():
            if col in out:
                try:
                    out[col] = [min(out[col][0], rng[0]), max(out[col][1], rng[1])]
                except TypeError:
                    out.pop(col, None)  # mixed types across files — unusable
            else:
                out[col] = list(rng)
    out = {c: r for c, r in out.items() if c in (covered or set())}
    # format stamp: vouches the ranges were produced by the coverage-fixed
    # writer (every-row-group stats + exactness flags honored), so
    # snapshot_fast_agg may serve them as exact. Commits without it
    # (older engines) stay prunable but route fast_agg to the scan path.
    # "\x00" keeps the pseudo-key out of any real column namespace.
    out[_STATS_V_KEY] = 1
    return out


def _publish(
    root: str,
    versions: list[int],
    body: dict,
    commit_id: str,
    sidecar: dict | None,
    pack_hints: dict | None = None,
) -> dict:
    """Atomically publish the next manifest (writing the commit's stats
    sidecar first, so the pointer never dangles).

    The on-disk root is O(commits): ``body``'s flat ``files`` list is
    packed into ``commit_files`` markers (full-commit groups become an
    int count; names stay in the commit sidecars). ``pack_hints`` supplies
    extra ``commit_files`` maps to vouch for full-commit groups whose
    commits the current head no longer pins (rollback/clone publish file
    lists sourced from OTHER manifests); the parent's own markers are
    always consulted. A commit no hint can vouch for — but which has an
    inherited sidecar pointer, i.e. is NOT the commit being published —
    degrades to an explicit subset list: correct, merely less compact."""
    version = (versions[-1] + 1) if versions else 1
    manifest = {"version": version, "parent": versions[-1] if versions else None}
    # commit wall time in nanoseconds, forced STRICTLY increasing along
    # the version chain so AS-OF-timestamp resolution is total even for
    # commits landing within one clock tick (or under clock skew)
    prev_m = _load_manifest(root, versions[-1]) if versions else {}
    manifest["committed_at"] = max(
        time.time_ns(), prev_m.get("committed_at", 0) + 1
    )
    manifest.update(body)
    manifest.setdefault("commit_schemas", {})
    manifest.setdefault("sidecars", {})
    manifest.setdefault("commit_ranges", {})
    manifest.setdefault("tombstones", [])
    # storage elision: an absent commit_schemas entry means "= this
    # manifest's schema" (every reader resolves via .get(cid, schema)),
    # so the common all-one-schema table stores ZERO per-commit schema
    # copies — without this a 10^4-commit streaming table's root carries
    # 10^4 identical schema strings. _inherit_maps re-materializes
    # explicit entries whenever a commit evolves the table schema.
    if (cur_schema := manifest.get("schema")) is not None:
        manifest["commit_schemas"] = {
            c: s for c, s in manifest["commit_schemas"].items() if s != cur_schema
        }
    files = manifest.pop("files")
    hints = dict(dict.get(prev_m, "commit_files") or {})
    if pack_hints:
        hints.update(pack_hints)
    # safety net: an inherited commit (it has a carried sidecar pointer,
    # so it pre-dates this publish) that no hint vouches for must be
    # stored as an explicit list — we cannot prove the group is complete
    inherited = set(manifest["sidecars"])
    packed = _pack_commit_files(files, hints)
    for cid in list(packed):
        if isinstance(packed[cid], int) and cid in inherited and cid not in hints:
            packed[cid] = [r for r in files if _commit_of(r) == cid]
    manifest["commit_files"] = packed
    os.makedirs(os.path.join(root, _MANIFEST_DIR), exist_ok=True)
    # Size + sketch rollups, maintained at the ONE place every commit
    # passes through so the maintenance advisor / DESCRIBE DETAIL answer
    # from the root alone: per-commit (n_files, total_bytes, n_small @
    # small_bytes) in ``commit_sizes``; commits whose sidecar carries
    # distinct sketches in ``sketch_commits``. The per-file byte map is
    # stamped into the commit's immutable sidecar (stat calls happen
    # exactly once, at write time, against files this writer just
    # produced) for recounts under non-default thresholds.
    small_thr = manifest.setdefault("small_bytes", _SMALL_FILE_BYTES)
    commit_sizes = dict(manifest.get("commit_sizes") or {})
    sketch_commits = list(manifest.get("sketch_commits") or [])
    if sidecar is not None:
        sc_rel = os.path.join(_MANIFEST_DIR, f"sc-{commit_id}.json")
        sidecar = dict(sidecar)
        sidecar.setdefault(
            "files", [r for r in files if _commit_of(r) == commit_id]
        )
        if "bytes" not in sidecar:
            sidecar["bytes"] = {
                rel: os.path.getsize(os.path.join(root, rel))
                for rel in sidecar["files"]
            }
        szs = list(sidecar["bytes"].values())
        commit_sizes[commit_id] = [
            len(szs), sum(szs), sum(1 for s in szs if s < small_thr)
        ]
        # 4th element: commit row count (when the sidecar's per-file rows
        # map covers every file) — lets snapshot_fast_agg answer COUNT(*)
        # from the root alone. Legacy 3-element entries stay valid.
        rows_map = sidecar.get("rows") or {}
        if all(rel in rows_map for rel in sidecar["files"]):
            commit_sizes[commit_id].append(
                int(sum(rows_map[rel] for rel in sidecar["files"]))
            )
        if sidecar.get("sketches") and commit_id not in sketch_commits:
            sketch_commits.append(commit_id)
        # per-commit column-sum rollup: {col: [sum, n_nonnull]} when the
        # sidecar's per-file sums cover every file of the commit — lets
        # snapshot_fast_agg answer SUM() from the root alone
        sums_map = sidecar.get("sums") or {}
        if sums_map and all(rel in sums_map for rel in sidecar["files"]):
            cols = set.intersection(
                *[set(sums_map[rel]) for rel in sidecar["files"]]
            ) if sidecar["files"] else set()
            if cols:
                commit_sums = dict(manifest.get("commit_sums") or {})
                commit_sums[commit_id] = {
                    c: [
                        int(sum(sums_map[rel][c][0] for rel in sidecar["files"])),
                        int(sum(sums_map[rel][c][1] for rel in sidecar["files"])),
                    ]
                    for c in sorted(cols)
                }
                manifest["commit_sums"] = commit_sums
        # declared-partition rollup for writers that didn't record one
        # themselves (COW rewrites, staged writes): files written under
        # the latest spec carry their tuples in hive path segments —
        # parse them back; unpartitioned files simply record nothing
        # (no entry == no partition pruning for the commit, always safe)
        specs = manifest.get("partition_specs") or []
        cparts = dict(manifest.get("commit_partitions") or {})
        if specs and commit_id not in cparts:
            from airflow_postgres_csv_spark.operators import partitioning as P

            if "partitions" not in sidecar:
                vals = {
                    rel: P.partition_values_from_rel(rel, len(specs[-1]))
                    for rel in sidecar["files"]
                }
                if any(v is not None for v in vals.values()):
                    sidecar["partitions"] = vals
            if sidecar.get("partitions"):
                cparts[commit_id] = {
                    "s": len(specs) - 1,
                    "f": P.commit_partition_summary(
                        specs[-1],
                        [
                            v for v in sidecar["partitions"].values()
                            if v is not None
                        ],
                    ),
                }
                manifest["commit_partitions"] = cparts
        with open(os.path.join(root, sc_rel), "w") as f:
            json.dump(sidecar, f)
        manifest["sidecars"][commit_id] = sc_rel
    manifest["commit_sizes"] = {
        c: v for c, v in commit_sizes.items() if c in packed
    }
    manifest["sketch_commits"] = [c for c in sketch_commits if c in packed]
    if "commit_sums" in manifest:
        manifest["commit_sums"] = {
            c: v for c, v in manifest["commit_sums"].items() if c in packed
        }
    if "commit_partitions" in manifest:
        manifest["commit_partitions"] = {
            c: v for c, v in manifest["commit_partitions"].items() if c in packed
        }
    tmp = _manifest_path(root, version) + f".tmp-{commit_id}"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    # Atomic commit point with first-writer-wins optimistic concurrency:
    # link() fails if the target exists (rename would silently clobber a
    # concurrent writer's manifest — a lost commit). The loser's data dir
    # and sidecar stay as orphans for snapshot_expire; the caller retries.
    try:
        os.link(tmp, _manifest_path(root, version))
    except FileExistsError:
        os.unlink(tmp)
        raise SnapshotConflictError(
            f"version {version} was published by a concurrent writer"
        ) from None
    os.unlink(tmp)
    out = _LazyManifest(manifest, root)
    dict.__setitem__(out, "files", files)
    return out


def _tombstone_applies(t: dict, cid: str, rel: str) -> bool:
    """Whether one tombstone covers one pinned file: equality tombstones
    are scoped by COMMIT (rows appended after the delete are exempt),
    positional tombstones by the exact FILES whose row positions they
    address (a rewrite of the file invalidates — and removes — them)."""
    if t.get("kind") == "positional":
        return rel in t["applies"]
    return cid in t["commits"]


# rel-path extractor matching the data layout root/data/{commit}/{file}:
# anchored at the path end so a 'data' component earlier in the ROOT path
# can never match (it would be followed by more than two segments).
_REL_FROM_URI = r"data/[^/]+/[^/]+$"


def _written_name(name: str, have, history: dict) -> str | None:
    """The physical column name holding ``name``'s data in a file whose
    written schema has column set ``have``: the name itself when
    present, else a prior name along the manifest's ``column_history``
    rename chain (ALTER RENAME is metadata-only, so files written
    before the rename keep the old physical name), else — when ``name``
    is itself a retired name (a reader pinned to a pre-rename schema,
    e.g. a running stream) — the current name of the column that once
    carried it. Retired names are reserved (``snapshot_alter`` refuses
    re-binding), so each lookup has at most one answer."""
    if name in have:
        return name
    for h in history.get(name, []):
        if h in have:
            return h
    for cur, chain in history.items():
        if name in chain and cur in have:
            return cur
    return None


def _read_pinned(
    spark: SparkSession,
    root: str,
    manifest: dict,
    rels: list[str],
    apply_tombstones: bool = True,
    with_position: bool = False,
) -> DataFrame:
    """Read pinned files under the MANIFEST's schema (never whichever
    schema Spark samples from mixed-schema file sets).

    Files are grouped by the schema their commit was written with; each
    group is read under its written schema and aligned to the version
    schema — added columns fill with the column's default (or NULL),
    dropped columns are pruned, widened columns cast (int→long,
    float→double: the parquet pages are read as written, the cast happens
    in the scan projection). Merge-on-read tombstones applicable to a
    file are applied as broadcast anti-joins before alignment — equality
    tombstones on their recorded key column, positional tombstones on
    (file, row_index) via the parquet reader's ``_metadata`` columns.
    Grouping is by (schema, tombstone-set), so the plan stays one union
    of pruned scans — no shuffle is introduced.

    ``with_position=True`` appends ``__file`` (manifest-relative path)
    and ``__pos`` (row index within the file) columns — the address a
    positional delete records.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    version_schema = StructType.fromJson(json.loads(manifest["schema"]))
    if not rels:
        from airflow_postgres_csv_spark.operators.localframe import (
            arrow_local_df,
        )

        out = arrow_local_df(spark, [], version_schema)
        if with_position:
            out = out.select(
                "*",
                F.lit(None).cast("string").alias("__file"),
                F.lit(None).cast("long").alias("__pos"),
            )
        return out
    commit_schemas = manifest.get("commit_schemas", {})
    tombs = manifest.get("tombstones", []) if apply_tombstones else []
    groups: dict[tuple, list[str]] = {}
    for rel in rels:
        cid = _commit_of(rel)
        sj = commit_schemas.get(cid, manifest["schema"])
        tids = tuple(
            i for i, t in enumerate(tombs) if _tombstone_applies(t, cid, rel)
        )
        groups.setdefault((sj, tids), []).append(rel)
    parts = []
    tomb_keys: dict = {}
    for (sj, tids), group in sorted(groups.items()):
        written = StructType.fromJson(json.loads(sj))
        df = spark.read.schema(written).parquet(
            *[os.path.join(root, rel) for rel in group]
        )
        need_pos = with_position or any(
            tombs[i].get("kind") == "positional" for i in tids
        )
        if need_pos:
            df = df.select(
                "*",
                F.regexp_extract(
                    F.col("_metadata.file_path"), _REL_FROM_URI, 0
                ).alias("__file"),
                F.col("_metadata.row_index").alias("__pos"),
            )
        history = manifest.get("column_history", {})
        for i in tids:
            t = tombs[i]
            if i not in tomb_keys:
                # one read per tombstone, shared by every group it covers:
                # inferring a schema is a Spark job, and positional delete
                # files always hold (file, pos), so those skip it
                reader = spark.read
                if t.get("kind") == "positional":
                    reader = reader.schema("file STRING, pos LONG")
                tomb_keys[i] = reader.parquet(
                    *[os.path.join(root, f) for f in t["files"]]
                )
            keys = tomb_keys[i]
            if t.get("kind") == "positional":
                cond = (df["__file"] == keys["file"]) & (df["__pos"] == keys["pos"])
                df = df.join(F.broadcast(keys), on=cond, how="left_anti")
            else:
                # a file written before an ALTER RENAME carries the old
                # physical name; resolve the tombstone's (current) key
                # column to it
                key = _written_name(t["key_col"], set(df.columns), history)
                if key == t["key_col"]:
                    df = df.join(F.broadcast(keys), on=key, how="left_anti")
                else:
                    df = df.join(
                        F.broadcast(keys),
                        on=df[key] == keys[t["key_col"]],
                        how="left_anti",
                    )
        extra_cols = ["__file", "__pos"] if with_position else []
        if sj != manifest["schema"]:
            defaults = manifest.get("defaults", {})
            have = {f.name: f.dataType for f in written.fields}
            cols = []
            for f in version_schema.fields:
                src = _written_name(f.name, have, history)
                if src is not None:
                    c = F.col(src)
                    if have[src] != f.dataType:
                        c = c.cast(f.dataType)
                    cols.append(c.alias(f.name))
                else:
                    cols.append(
                        F.lit(defaults.get(f.name)).cast(f.dataType).alias(f.name)
                    )
            df = df.select(*cols, *[F.col(c) for c in extra_cols])
        elif need_pos and not with_position:
            df = df.drop("__file", "__pos")
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def snapshot_read(
    spark: SparkSession, root: str, version: int | str | None = None,
    as_of: int | None = None,
) -> DataFrame:
    """Read a pinned version (default: latest) via its exact file list.
    ``version`` may be a number or a tag name (``snapshot_tag``);
    ``as_of`` is AS-OF-TIMESTAMP time travel — the newest version whose
    ``committed_at`` (nanosecond epoch, strictly increasing along the
    chain) is <= the given instant.

    The VERSION's schema (from the manifest) is applied explicitly — see
    ``_read_pinned`` for the schema-evolution alignment rules — and any
    merge-on-read tombstones are applied, so the result is always the
    version's logical row set.
    """
    versions = snapshot_versions(root)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {root}")
    if as_of is not None:
        if version is not None:
            raise ValueError("pass version or as_of, not both")
        version = snapshot_version_as_of(root, as_of)
    version = resolve_version(root, version)
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise FileNotFoundError(f"version {version} not in {versions}")
    manifest = _load_manifest(root, version)
    return _read_pinned(spark, root, manifest, manifest["files"])


def _max_stamp(root: str, key: str, default: int = -1) -> int:
    """Newest-first scan for a sticky high-water stamp (``last_batch_id``,
    ``cdc_applied_version``, ``ivm_applied_version``): stop at the first
    manifest carrying the key — inheritance (``_inherit_maps``) plus the
    rollback max-guard make the stamp monotone along the chain, so the
    newest carrier IS the max. Manifests lacking the key (old-engine
    commits) are skipped, keeping the gate closed instead of reopening
    it. O(1) manifest reads in the common case vs O(versions) for a full
    scan — a long-lived stream would otherwise re-read thousands of
    manifest JSONs per micro-batch."""
    try:
        versions = snapshot_versions(root)
    except FileNotFoundError:
        return default
    for v in reversed(versions):
        m = _load_manifest(root, v)
        if key in m:
            return m[key]
    return default


def snapshot_version_as_of(root: str, ts_ns: int) -> int:
    """The newest version committed at or before ``ts_ns`` (nanosecond
    epoch). Raises if the instant precedes the first retained commit —
    either it predates the table or expire GC'd the history."""
    best = None
    for v in snapshot_versions(root):
        if _load_manifest(root, v).get("committed_at", 0) <= ts_ns:
            best = v
    if best is None:
        raise FileNotFoundError(
            f"no version at or before t={ts_ns}; history may be expired"
        )
    return best


def snapshot_history(root: str) -> list[dict]:
    """DESCRIBE HISTORY: one dict per retained version — version, parent,
    mode, commit id, file/tombstone counts, committed_at (ns) — straight
    from the manifests, no data scan."""
    out = []
    for v in snapshot_versions(root):
        m = _load_manifest(root, v)
        out.append(
            {
                "version": v,
                "parent": m.get("parent"),
                "mode": m.get("mode"),
                "commit_id": m.get("commit_id"),
                "n_files": m.get("n_files", len(m.get("files", []))),
                "n_tombstones": len(m.get("tombstones", [])),
                "committed_at": m.get("committed_at", 0),
            }
        )
    return out


def snapshot_diff(root: str, v_old: int, v_new: int) -> dict:
    """File-level diff between two versions — manifest set arithmetic,
    no data scan. Returns relative paths added and removed."""
    old = set(_load_manifest(root, v_old)["files"])
    new = set(_load_manifest(root, v_new)["files"])
    return {
        "added": sorted(new - old),
        "removed": sorted(old - new),
        "unchanged": len(old & new),
    }


def _as_ranges(col_or_ranges, lo, hi) -> dict:
    """Accept either (col, lo, hi) scalars or a {col: (lo, hi)} dict."""
    if isinstance(col_or_ranges, dict):
        return col_or_ranges
    return {col_or_ranges: (lo, hi)}


def _plan_scan(root: str, manifest: dict, want: dict) -> dict:
    """Hierarchical file skipping for a conjunctive range predicate:

    1. whole-COMMIT pruning against the root manifest's commit-level
       column ranges — no extra I/O at all;
    2. per-FILE zone maps from the sidecars of surviving commits only.

    Returns kept file list plus the planning counters the tests pin
    (files kept/skipped, commits pruned wholesale, sidecars actually
    loaded, kept files lacking stats on a predicate column).

    A commit pruned at step 1 never has its sidecar OPENED — and since
    the O(commits) root stores only a count for a full commit, its file
    names are never even enumerated (tests/test_snapshots.py pins this
    with an open() counter)."""
    from airflow_postgres_csv_spark.operators import partitioning as P

    commit_ranges = manifest.get("commit_ranges", {})
    specs = manifest.get("partition_specs") or []
    cparts = manifest.get("commit_partitions", {}) if specs else {}
    history = manifest.get("column_history", {})
    pred_cache: dict[int, list] = {}  # spec index -> mapped predicates

    def _rng_of(stats_map: dict, col: str):
        # stats are recorded under the name the commit was WRITTEN with;
        # resolve a current (possibly post-rename) predicate column to it
        src = _written_name(col, stats_map, history) if history else col
        return stats_map.get(src) if src is not None else None

    kept: list[str] = []
    skipped = commits_skipped = sidecars_loaded = no_stats = 0
    for cid, n, subset in _commit_markers(root, manifest):
        cr = commit_ranges.get(cid)
        if cr is not None and any(
            _range_disjoint(_rng_of(cr, c), clo, chi)
            for c, (clo, chi) in want.items()
        ):
            commits_skipped += 1
            skipped += n
            continue
        # declared-partition pruning: map the predicate through the
        # commit's OWN spec (spec evolution) — commit level from the root
        # summary, file level from the sidecar's exact tuples below
        ppreds = None
        cp = cparts.get(cid)
        if cp is not None:
            si = cp.get("s", len(specs) - 1)
            if 0 <= si < len(specs):
                if si not in pred_cache:
                    pred_cache[si] = P.map_predicates(specs[si], want)
                ppreds = pred_cache[si]
                if not any(p is not None for p in ppreds):
                    ppreds = None
                elif P.prune_commit(cp.get("f") or [], ppreds):
                    commits_skipped += 1
                    skipped += n
                    continue
        sc = _load_sidecar(root, manifest, cid)
        stats = sc.get("stats", {})
        sidecars_loaded += 1
        if subset is not None:
            rels = subset
        else:
            rels = sc.get("files") or list(stats)
            if len(rels) != n:  # unreadable/short sidecar: enumeration
                # is correctness — fall back to the strict loader's error
                rels = _commit_files_from_sidecar(root, manifest, cid, n)
        pvals = sc.get("partitions") or {}
        for rel in rels:
            if ppreds is not None and P.prune_file(pvals.get(rel), ppreds):
                skipped += 1
                continue
            fstats = stats.get(rel, {})
            disjoint = missing = False
            for c, (clo, chi) in want.items():
                rng = _rng_of(fstats, c)
                if rng is None:
                    missing = True
                elif _range_disjoint(rng, clo, chi):
                    disjoint = True
                    break
            if disjoint:
                skipped += 1
            else:
                kept.append(rel)
                if missing:
                    no_stats += 1
    return {
        "kept_files": kept,
        "kept": len(kept),
        "skipped": skipped,
        "no_stats": no_stats,
        "commits_skipped": commits_skipped,
        "sidecars_loaded": sidecars_loaded,
    }


def snapshot_scan(
    spark: SparkSession,
    root: str,
    col=None,
    lo=None,
    hi=None,
    version: int | None = None,
    ranges: dict | None = None,
) -> DataFrame:
    """Range scan with MANIFEST-level file skipping: files whose zone map
    ``[min, max]`` is disjoint from the requested range on ANY predicate
    column are never handed to Spark at all. Single-column form
    ``snapshot_scan(spark, root, col, lo, hi)`` or conjunctive multi-column
    form ``snapshot_scan(spark, root, ranges={"x": (x0, x1), "y": (y0, y1)})``
    — the multi-column case is where Z-order-clustered commits pay off:
    interleaved layout gives every file a tight extent on BOTH columns, so
    a small 2-D query window skips all but a handful of files (a
    1-D-sorted layout prunes only its sort column).

    Pruning is hierarchical (``_plan_scan``): whole commits are skipped
    against the root manifest's commit-level ranges — for
    partition-clustered commits (``partition_by``) this IS partition
    pruning, answered before any per-file metadata is read — then the
    surviving commits' sidecars supply per-file zone maps. At 100 TB the
    driver-side cost of *planning* a scan (listing + footer reads for
    thousands of files) dominates short queries; the manifest answers the
    file-skip question from one root JSON plus the relevant sidecars.
    Skipping is safe-by-construction — a file is dropped only when a
    recorded range provably cannot intersect (incomparable probe types
    keep the file) — and the residual in-file filter is still applied
    (and pushed down) on the survivors. Files with no recorded stats for
    a column are scanned.
    """
    want = _as_ranges(ranges if ranges is not None else col, lo, hi)
    versions = snapshot_versions(root)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {root}")
    if version is None:
        version = versions[-1]
    manifest = _load_manifest(root, version)
    keep = _plan_scan(root, manifest, want)["kept_files"]
    from pyspark.sql import functions as F

    pred = None
    for c, (clo, chi) in want.items():
        p = F.col(c).between(clo, chi)
        pred = p if pred is None else (pred & p)
    return _read_pinned(spark, root, manifest, keep).where(pred)


def snapshot_scan_files(
    root, col=None, lo=None, hi=None, version: int | None = None, ranges: dict | None = None
) -> dict:
    """Planning-only twin of ``snapshot_scan``: how many files the zone
    maps keep vs skip, how many whole commits were pruned from the root
    manifest alone, and how many sidecars were read — the observables the
    tests pin. ``no_stats`` counts kept files that lacked stats on at
    least one predicate column."""
    want = _as_ranges(ranges if ranges is not None else col, lo, hi)
    versions = snapshot_versions(root)
    if version is None:
        version = versions[-1]
    manifest = _load_manifest(root, version)
    plan = _plan_scan(root, manifest, want)
    plan.pop("kept_files")
    return plan


def snapshot_lookup_files(root: str, col: str, value, version: int | None = None) -> dict:
    """Planning-only: per-file keep/skip decision for a point lookup,
    combining commit-level ranges, per-file zone maps (range
    disjointness), and the per-file Bloom bitsets (membership). A file
    survives only if ALL say it might hold the value; files without
    stats/bloom for ``col`` are kept."""
    versions = snapshot_versions(root)
    if version is None:
        version = versions[-1]
    manifest = _load_manifest(root, version)
    cfg = manifest.get("bloom") or {}
    use_bloom = col in cfg.get("cols", [])
    if use_bloom:
        _bloom_probe_key(value)  # loud error for unsupported key types
    commit_ranges = manifest.get("commit_ranges", {})
    kept, skipped = [], 0
    for cid, n, subset in _commit_markers(root, manifest):
        cr = (commit_ranges.get(cid) or {}).get(col)
        if _range_disjoint(cr, value, value):
            # whole commit pruned from the root alone: its sidecar is
            # never opened, its file names never enumerated
            skipped += n
            continue
        sidecar = _load_sidecar(root, manifest, cid)
        stats = sidecar.get("stats", {})
        blooms = sidecar.get("blooms", {})
        if subset is not None:
            rels = subset
        else:
            rels = sidecar.get("files") or list(stats)
            if len(rels) != n:
                rels = _commit_files_from_sidecar(root, manifest, cid, n)
        for rel in rels:
            if _range_disjoint(stats.get(rel, {}).get(col), value, value):
                skipped += 1
                continue
            if use_bloom:
                words = blooms.get(rel, {}).get(col)
                if words is not None and not _bloom_might_contain(
                    words, value, cfg["m"], cfg["k"]
                ):
                    skipped += 1
                    continue
            kept.append(rel)
    return {"kept": kept, "skipped": skipped}


def snapshot_lookup(
    spark: SparkSession, root: str, col: str, value, version: int | None = None
) -> DataFrame:
    """Point lookup ``col = value`` with manifest-level file skipping.

    Zone maps only help when the key correlates with file layout; a
    hash-distributed key spans every file's [min, max], so range pruning
    keeps everything. The per-file Bloom bitsets (built at commit time,
    ~0.5 KB per file per column at the default 4096 bits) answer the
    membership question instead: at 100 TB a primary-key lookup touches
    the handful of files that might contain the key — with false
    positives only costing extra scans, never wrong results. The residual
    equality filter still applies on the survivors, under the version's
    pinned schema and tombstones.
    """
    plan = snapshot_lookup_files(root, col, value, version)
    from pyspark.sql import functions as F

    versions = snapshot_versions(root)
    manifest = _load_manifest(root, version or versions[-1])
    return _read_pinned(spark, root, manifest, plan["kept"]).where(
        F.col(col) == F.lit(value)
    )


def snapshot_changes(
    spark: SparkSession, root: str, v_old: int, v_new: int
) -> DataFrame:
    """Row-level change feed for an append-only version range: the rows of
    every file present in ``v_new`` but not ``v_old``.

    This is the incremental-consumption primitive: a downstream job that
    processed v_old catches up to v_new by scanning ONLY the delta files —
    O(appended data), never O(table). Raises if the range removed files
    (an overwrite/compaction landed in between) or changed the
    merge-on-read tombstone set (a delete landed): the file delta is then
    not a row delta, and the caller must fall back to a full diff
    (``operators/merge.table_diff``) or anchor past the rewrite.
    """
    old_m = _load_manifest(root, v_old)
    new_m = _load_manifest(root, v_new)
    added, removed = snapshot_files_diff(root, old_m, new_m)
    if removed:
        raise ValueError(
            f"versions {v_old}->{v_new} rewrote {len(removed)} file(s); the "
            "file delta is not a row delta — use a full table_diff instead"
        )
    if old_m.get("tombstones", []) != new_m.get("tombstones", []):
        raise ValueError(
            f"versions {v_old}->{v_new} changed the delete-tombstone set; "
            "the file delta is not a row delta — use a full table_diff instead"
        )
    return _read_pinned(spark, root, new_m, added)


def _pinned_bytes(root: str, manifest: dict, rels: list[str] | None = None) -> int:
    """Total bytes of pinned data files, answered from METADATA: the root
    ``commit_sizes`` rollup for full commits, the commit sidecars' byte
    maps for subsets, ``os.path.getsize`` only as the legacy last resort.
    ``rels=None`` sums the whole pinned set in O(commits); an explicit
    subset costs O(its commits) sidecar JSON reads — never a stat call
    per file on object storage."""
    if rels is None:
        total = 0
        cs = manifest.get("commit_sizes") or {}
        for cid, n, subset in _commit_markers(root, manifest):
            ent = cs.get(cid)
            if subset is None and ent is not None:
                total += int(ent[1])
                continue
            files = (
                subset
                if subset is not None
                else _commit_files_from_sidecar(root, manifest, cid, n)
            )
            bmap = _load_sidecar(root, manifest, cid).get("bytes") or {}
            total += sum(
                bmap[rel]
                if rel in bmap
                else os.path.getsize(os.path.join(root, rel))
                for rel in files
            )
        return total
    by_commit: dict[str, list[str]] = {}
    for rel in rels:
        by_commit.setdefault(_commit_of(rel), []).append(rel)
    total = 0
    for cid, files in by_commit.items():
        bmap = _load_sidecar(root, manifest, cid).get("bytes") or {}
        total += sum(
            bmap[rel] if rel in bmap else os.path.getsize(os.path.join(root, rel))
            for rel in files
        )
    return total


def snapshot_compact(
    spark: SparkSession,
    root: str,
    target_bytes: int = 128 * 1024 * 1024,
    zorder_by: tuple[str, ...] | None = None,
    curve: str = "morton",
) -> dict:
    """Rewrite the latest version's files into ``ceil(bytes/target)`` files
    as a NEW overwrite commit — same logical rows, fewer files, and any
    merge-on-read tombstones folded in (the rewrite reads through
    ``snapshot_read``, which applies them; the new manifest carries none).

    ``zorder_by=(a, b, ...)`` additionally CLUSTERS the rewrite on the
    space-filling-curve interleave of the 2..4+ (numeric) columns —
    Delta/Iceberg's ``OPTIMIZE ZORDER BY`` / liquid-clustering layouts.
    Each column is affinely scaled into its per-column bit budget
    (``63 // n`` bits, capped at 16) from its own min/max (one tiny
    aggregate; the scaling only shapes the layout, never the rows), the
    curve value range-partitions AND sorts the output, so every rewritten
    file covers a tight n-D box — and the per-file zone maps the commit
    records then prune scans with predicates on ANY subset of the
    clustered columns (``layout.zorder_value`` / ``layout.hilbert_value``;
    payoff asserted in tests/test_snapshots.py::test_compact_zorder_prunes_2d
    and ::test_compact_zorder3_prunes_3d).

    Unlike directory-swap compaction (``dataset.compact_dataset``), the
    snapshot version makes maintenance safe by construction: readers pinned
    to any version keep their exact file list (no missing-path window at
    all), time travel across the compaction still works, and the small
    files are reclaimed later by ``snapshot_expire`` once no retained
    version references them.
    """
    import math

    versions = snapshot_versions(root)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {root}")
    manifest = _load_manifest(root, versions[-1])
    total = _pinned_bytes(root, manifest)  # metadata-only table sizing
    n_out = max(1, math.ceil(total / target_bytes))
    df = snapshot_read(spark, root)
    if zorder_by is not None:
        from pyspark.sql import functions as F

        from airflow_postgres_csv_spark.operators.layout import (
            hilbert_value,
            max_curve_bits,
            zorder_value,
        )

        if curve not in ("morton", "hilbert"):
            raise ValueError(f"curve must be morton|hilbert, got {curve!r}")
        curve_fn = hilbert_value if curve == "hilbert" else zorder_value
        cols = tuple(zorder_by)
        bits = min(16, max_curve_bits(len(cols)))
        bounds = df.agg(
            *[f(c) for c in cols for f in (F.min, F.max)]
        ).first()
        scale = (1 << bits) - 1

        def _norm(col, lo, hi):
            if lo is None:  # empty table: layout is moot, any constant works
                lo, hi = 0, 1
            span = max(int(hi) - int(lo), 1)
            return (
                (F.col(col).cast("long") - F.lit(int(lo))) * scale / F.lit(span)
            ).cast("long")

        z = curve_fn(
            *[
                _norm(c, bounds[2 * i], bounds[2 * i + 1])
                for i, c in enumerate(cols)
            ],
            bits=bits,
        )
        if manifest.get("partition_specs"):
            # hidden-partitioned table: the rewrite PRESERVES the declared
            # layout (snapshot_commit re-applies the sticky spec — one
            # directory per partition tuple) and curve-sorts within each
            # partition instead of range-partitioning globally
            cluster_exprs = [z.alias("__z")]
        else:
            # pre-shaped here: the empty list tells the commit path not
            # to re-shuffle (None would fall through to the sticky order)
            cluster_exprs = []
            df = df.repartitionByRange(n_out, z.alias("__z")).sortWithinPartitions(
                z.alias("__z")
            )
        sorted_layout = False
    elif manifest.get("sort_order"):
        # no explicit curve: the rewrite HONORS the declared sort order —
        # compaction restores the clustered layout for pre-declaration
        # and merge-scrambled commits
        from pyspark.sql import functions as F

        so = manifest["sort_order"]
        if manifest.get("partition_specs"):
            cluster_exprs = [F.col(c) for c in so]
        else:
            cluster_exprs = []
            df = df.repartitionByRange(n_out, *so).sortWithinPartitions(*so)
        sorted_layout = True
    else:
        cluster_exprs = None
        sorted_layout = False
        if not manifest.get("partition_specs"):
            df = df.repartition(n_out)
    # Stamp WHAT this overwrite is (inside the atomic publish): a
    # row-preserving rewrite of exactly the version we read. Streams use
    # it to skip the commit (zero row changes) — and the parent check
    # they apply (parent == compaction_of) detects the maintenance race
    # where another commit interleaved, in which case the stamp is stale
    # and the overwrite is treated as destructive.
    new_m = snapshot_commit(
        df, root, mode="overwrite", extra={"compaction_of": versions[-1]},
        expected_head=versions[-1], _cluster_exprs=cluster_exprs,
        _sorted_layout=sorted_layout,
    )
    new_m["files_before"] = manifest["n_files"]
    return new_m


def snapshot_compact_partition(
    spark: SparkSession,
    root: str,
    where: dict,
    min_files: int = 2,
) -> dict:
    """PARTITION-SCOPED compaction (Iceberg's ``rewrite_data_files`` with
    a filter): rewrite only the files whose identity-partition tuple
    matches the ``where`` equality, inheriting every other file by
    pointer — the maintenance shape for a hot partition at 100 TB, where
    ``snapshot_compact``'s full rewrite is not an option and
    ``snapshot_optimize_incremental`` is scoped by commit age, not by
    partition.

    Membership is decided per FILE from the recorded partition tuples
    (exact both directions for identity transforms — the same machinery
    as ``snapshot_fast_agg(where=...)``), with whole commits pruned via
    the root partition summary before their sidecar opens. The matched
    files are read with merge-on-read tombstones folded in and rewritten
    under the declared spec (sorted within partitions by the declared
    sort order when one exists, which earns the new commit its sorted
    stamp); tombstone entries narrow to the files that survive. The
    publish is row-preserving and stamps ``compaction_of``, so change
    feeds, CDC replay, and the streaming source verify-and-skip it like
    any compaction. Unprovable membership (no spec, a non-identity
    column, a pre-spec commit, a lossy-vintage ambiguous tuple) RAISES
    with guidance instead of silently widening the rewrite — maintenance
    must touch exactly what it was asked to. Fewer than ``min_files``
    matching files publishes nothing. The rewrite lands as the writer's
    standard one-file-per-partition-tuple layout — exactly the merge a
    hot partition's small-file debt needs."""
    from pyspark.sql import functions as F

    from airflow_postgres_csv_spark.operators import partitioning as P
    from airflow_postgres_csv_spark.operators.fast_agg import (
        _identity_index,
        _sidecar_probe,
        _where_image,
    )

    versions = snapshot_versions(root)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {root}")
    manifest = _load_manifest(root, versions[-1])
    specs = manifest.get("partition_specs") or []
    if not where or any(v is None for v in where.values()):
        raise ValueError("where: non-NULL equality values required")
    if not specs:
        raise ValueError(
            "snapshot_compact_partition needs a declared partition spec "
            "(snapshot_commit(partition_transforms=...)); use "
            "snapshot_compact for unpartitioned tables"
        )
    probes = _where_image(manifest, where)
    if probes is None:
        raise ValueError(
            f"membership for {where} is unprovable from partition tuples "
            "(type mismatch); run snapshot_compact instead"
        )
    raw_ok, img = probes
    want = {c: (v, v) for c, v in where.items()}
    cparts = manifest.get("commit_partitions") or {}
    by_cid: dict[str, list[str]] = {}
    for rel in manifest["files"]:
        by_cid.setdefault(_commit_of(rel), []).append(rel)
    matched: list[str] = []
    untouched: list[str] = []
    pred_cache: dict[int, list] = {}
    for cid, rels in by_cid.items():
        cp = cparts.get(cid)
        if cp is None:
            raise ValueError(
                f"commit {cid} predates the partition spec — its files' "
                "membership is unprovable; snapshot_compact (full) folds "
                "it into the declared layout first"
            )
        si = cp.get("s", len(specs) - 1)
        spec = specs[si] if 0 <= si < len(specs) else None
        idx: dict[str, int] = {}
        for c in where:
            j = _identity_index(spec or [], c)
            if j is None:
                raise ValueError(
                    f"column {c!r} is not an identity partition field of "
                    f"commit {cid}'s spec — partition-scoped compaction "
                    "needs exact file membership"
                )
            idx[c] = j
        if si not in pred_cache:
            pred_cache[si] = P.map_predicates(spec, want)
        if P.prune_commit(cp.get("f") or [], pred_cache[si]):
            untouched.extend(rels)
            continue
        sc = _load_sidecar(root, manifest, cid)
        probe = _sidecar_probe(sc, where, raw_ok, img)
        if probe is None:
            raise ValueError(
                f"commit {cid}'s tuples are a lossy vintage that cannot "
                f"prove equality for {where}; snapshot_compact (full) "
                "rewrites it with faithful tuples"
            )
        pvals = sc.get("partitions") or {}
        for rel in rels:
            tup = pvals.get(rel)
            if tup is None:
                raise ValueError(
                    f"file {rel} has no recorded partition tuple; "
                    "snapshot_compact (full) re-establishes the layout"
                )
            if all(tup[idx[c]] == probe[c] for c in where):
                matched.append(rel)
            else:
                untouched.append(rel)
    if len(matched) < min_files:
        return manifest
    df = _read_pinned(spark, root, manifest, matched)
    so = manifest.get("sort_order")
    spec = specs[-1]
    P.validate_spec(spec, df.schema)
    commit_id, new_files = _write_data(
        df, root,
        partition_cols=P.transform_columns(spec, df.schema),
        cluster_by=[F.col(c) for c in so] if so else None,
    )
    files = untouched + new_files
    body = _inherit_maps(manifest, files)
    if manifest.get("bloom"):
        body["bloom"] = manifest["bloom"]
    kept_cids = {_commit_of(rel) for rel in untouched}
    sorted_set = set(manifest.get("sorted_commits", [])) & kept_cids
    if so:
        sorted_set.add(commit_id)
    if sorted_set:
        body["sorted_commits"] = sorted(sorted_set)
    opt_set = set(manifest.get("optimized_commits", [])) & kept_cids
    if opt_set:
        body["optimized_commits"] = sorted(opt_set)
    body.update(
        mode="overwrite", commit_id=commit_id, files=files,
        n_files=len(files), schema=manifest["schema"],
        compaction_of=versions[-1],
    )
    body["commit_schemas"][commit_id] = manifest["schema"]
    sidecar = _new_sidecar(
        spark, root, new_files, manifest.get("bloom"),
        manifest.get("sketch"), manifest.get("sums"),
    )
    body["commit_ranges"][commit_id] = _merge_ranges(sidecar["stats"])
    sidecar["partitions"], sidecar["tuples_v"] = P.faithful_partitions(
        spec, df.schema, new_files
    )
    body.setdefault("commit_partitions", {})[commit_id] = {
        "s": len(specs) - 1,
        "f": P.commit_partition_summary(
            spec,
            [v for v in sidecar["partitions"].values() if v is not None],
        ),
    }
    out = _publish(root, versions, body, commit_id, sidecar)
    out["files_rewritten"] = len(matched)
    out["files_kept"] = len(untouched)
    return out


def snapshot_optimize_incremental(
    spark: SparkSession,
    root: str,
    zorder_by: tuple[str, ...] | None = None,
    curve: str = "morton",
    target_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict:
    """Incremental OPTIMIZE: cluster ONLY the files added since the last
    optimize, leaving previously-optimized files untouched by pointer —
    the maintenance shape a long-lived streaming table needs at 100 TB,
    where a full-table ``snapshot_compact`` rewrite per cycle is not an
    option (Delta's incremental OPTIMIZE / liquid-clustering cadence).

    With ``zorder_by`` omitted, the cycle restores the table's DECLARED
    SORT ORDER instead: commits stamped ``sorted_commits`` are inherited
    by pointer, everything else (pre-declaration commits, COW-merge
    rewrites, staged data-source writes) is read and range-clustered on
    the declared keys as one new sorted-stamped commit — O(unsorted
    data) per cycle, which is what the maintenance advisor recommends
    for sort debt (a full compact would rewrite the already-sorted bulk
    too).

    Files of commits stamped ``optimized_commits`` (this op's own prior
    outputs, inherited across appends; a COW rewrite that keeps a subset
    of an optimized commit keeps its stamp — the surviving rows are
    still clustered) are inherited verbatim; everything else is read
    (tombstones on those commits folded in), curve-clustered exactly
    like ``snapshot_compact(zorder_by=...)``, and rewritten as one new
    commit. The publish is row-preserving and stamps ``compaction_of``,
    so change feeds, CDC replay, and the streaming source verify-and-skip
    it like any compaction. Fewer than ``min_files`` unoptimized files
    publishes nothing and returns the current head (an idempotent
    maintenance loop can run on a timer).

    Each cycle costs O(new data). Steady state: appends arrive
    unclustered, the maintenance loop folds them into one clustered
    commit per cycle, and scans prune per-commit — older optimized
    commits by their tight curve extents, the newest arrivals by
    whatever their natural order gave them. A first run on a
    never-optimized table clusters everything (= the full OPTIMIZE)."""
    import math

    from pyspark.sql import functions as F

    from airflow_postgres_csv_spark.operators.layout import (
        hilbert_value,
        max_curve_bits,
        zorder_value,
    )

    versions = snapshot_versions(root)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {root}")
    if curve not in ("morton", "hilbert"):
        raise ValueError(f"curve must be morton|hilbert, got {curve!r}")
    manifest = _load_manifest(root, versions[-1])
    sort_mode = zorder_by is None
    so = manifest.get("sort_order")
    if sort_mode and not so:
        raise ValueError(
            "zorder_by omitted and the table declares no sort order — "
            "pass zorder_by=(cols,) or snapshot_commit(sort_order=[...]) "
            "first"
        )
    done = (
        set(manifest.get("sorted_commits", []))
        if sort_mode
        else set(manifest.get("optimized_commits", []))
    )
    prev_opt = set(manifest.get("optimized_commits", []))
    keep = [rel for rel in manifest["files"] if _commit_of(rel) in done]
    redo = [rel for rel in manifest["files"] if _commit_of(rel) not in done]
    if len(redo) < min_files:
        return manifest
    df = _read_pinned(spark, root, manifest, redo)

    if sort_mode:
        z = None
    else:
        curve_fn = hilbert_value if curve == "hilbert" else zorder_value
        cols = tuple(zorder_by)
        bits = min(16, max_curve_bits(len(cols)))
        bounds = df.agg(
            *[f(c) for c in cols for f in (F.min, F.max)]
        ).first()
        scale = (1 << bits) - 1

        def _norm(col, lo, hi):
            if lo is None:  # empty unoptimized slice: layout is moot
                lo, hi = 0, 1
            span = max(int(hi) - int(lo), 1)
            return (
                (F.col(col).cast("long") - F.lit(int(lo)))
                * scale / F.lit(span)
            ).cast("long")

        z = curve_fn(
            *[
                _norm(c, bounds[2 * i], bounds[2 * i + 1])
                for i, c in enumerate(cols)
            ],
            bits=bits,
        )
    total = _pinned_bytes(root, manifest, redo)  # sidecar byte maps, no stats
    n_out = max(1, math.ceil(total / target_bytes))
    specs = manifest.get("partition_specs") or []
    cluster_exprs = (
        [F.col(c) for c in so] if sort_mode else [z.alias("__z")]
    )
    if specs:
        # hidden-partitioned table: the incremental rewrite PRESERVES the
        # declared layout (one dir per partition tuple) and curve-sorts
        # within each partition — same contract as snapshot_compact
        from airflow_postgres_csv_spark.operators import partitioning as P

        spec = specs[-1]
        P.validate_spec(spec, df.schema)
        commit_id, new_files = _write_data(
            df, root,
            partition_cols=P.transform_columns(spec, df.schema),
            cluster_by=cluster_exprs,
        )
    elif sort_mode:
        clustered = df.repartitionByRange(n_out, *so).sortWithinPartitions(
            *so
        )
        commit_id, new_files = _write_data(clustered, root)
    else:
        clustered = df.repartitionByRange(
            n_out, z.alias("__z")
        ).sortWithinPartitions(z.alias("__z"))
        commit_id, new_files = _write_data(clustered, root)
    files = keep + new_files
    body = _inherit_maps(manifest, files)
    bloom_cfg = manifest.get("bloom")
    if bloom_cfg:
        body["bloom"] = bloom_cfg
    kept_cids = {_commit_of(rel) for rel in keep}
    if sort_mode:
        # the rewrite IS the sorted layout; curve stamps just follow
        # their surviving commits via _inherit_maps
        body["sorted_commits"] = sorted((done & kept_cids) | {commit_id})
    else:
        body["optimized_commits"] = sorted(
            (prev_opt & kept_cids) | {commit_id}
        )
    body.update(
        mode="overwrite", commit_id=commit_id, files=files,
        n_files=len(files), schema=manifest["schema"],
        compaction_of=versions[-1],
    )
    sidecar = _new_sidecar(
        spark, root, new_files, bloom_cfg, manifest.get("sketch"),
        manifest.get("sums"),
    )
    body["commit_schemas"][commit_id] = manifest["schema"]
    body["commit_ranges"][commit_id] = _merge_ranges(sidecar["stats"])
    if specs and new_files:
        from airflow_postgres_csv_spark.operators import partitioning as P

        sidecar["partitions"], sidecar["tuples_v"] = P.faithful_partitions(
            specs[-1], df.schema, new_files
        )
        body.setdefault("commit_partitions", {})[commit_id] = {
            "s": len(specs) - 1,
            "f": P.commit_partition_summary(
                specs[-1],
                [v for v in sidecar["partitions"].values() if v is not None],
            ),
        }
    out = _publish(root, versions, body, commit_id, sidecar)
    out["files_rewritten"] = len(redo)
    out["files_kept"] = len(keep)
    return out


def _key_stats_for_merge(root: str, manifest: dict, col: str) -> dict:
    """Per-file [min,max] of ``col`` for COW candidate selection, loading
    sidecars only for commits whose commit-level range intersects — the
    same hierarchical discipline as the scan planner."""
    out: dict = {}
    commit_ranges = manifest.get("commit_ranges", {})
    loaded: dict[str, dict] = {}
    for rel in manifest["files"]:
        cid = _commit_of(rel)
        if cid not in loaded:
            loaded[cid] = _load_sidecar(root, manifest, cid).get("stats", {})
        rng = loaded[cid].get(rel, {}).get(col)
        if rng is None:
            # fall back to the commit-level range (conservative: wider)
            rng = (commit_ranges.get(cid) or {}).get(col)
        out[rel] = rng
    return out


def snapshot_merge(
    spark: SparkSession, root: str, updates: DataFrame, key: str,
    extra: dict | None = None,
) -> dict:
    """Copy-on-write MERGE (upsert by ``key``) as a new version: rows whose
    key appears in ``updates`` are replaced, new keys are inserted.

    File-granular rewrite driven by the zone maps: only files whose
    recorded ``key`` range intersects the update key range are read and
    rewritten (matched rows dropped via anti-join, then the updates
    appended); every other file is inherited into the new manifest
    verbatim. At 100 TB this is the difference between rewriting the
    touched partitions and rewriting the table — the same copy-on-write
    contract as Iceberg/Delta MERGE. Files with no recorded key stats are
    conservatively treated as candidates (correctness over skipping).
    Candidate files are read under the version's pinned schema with
    tombstones applied, so the rewrite folds their deletes in.

    ``updates`` must be unique per key and schema-identical to the table.
    The driver reads only the updates' key bounds (one tiny aggregate).
    ``extra`` rides inside the atomic publish exactly as in
    ``snapshot_commit`` (e.g. a streaming sink's ``last_batch_id``).
    """
    if extra and (bad := set(extra) & _RESERVED_KEYS):
        raise ValueError(f"extra metadata may not override reserved keys: {sorted(bad)}")
    versions = snapshot_versions(root)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {root}")
    manifest = _load_manifest(root, versions[-1])
    if manifest["schema"] != _schema_json(updates):
        raise ValueError("snapshot_merge: updates schema differs from table schema")
    from pyspark.sql import functions as F

    lo, hi = updates.agg(F.min(key), F.max(key)).first()
    commit_id = uuid.uuid4().hex[:12]
    if lo is None:  # empty updates — metadata-only no-op commit
        body = _inherit_maps(manifest, manifest["files"])
        if manifest.get("bloom"):
            body["bloom"] = manifest["bloom"]
        if extra:
            body.update(extra)
        body.update(
            mode="merge", commit_id=commit_id,
            files=list(manifest["files"]),
            n_files=manifest["n_files"], schema=manifest["schema"],
        )
        return _publish(root, versions, body, commit_id, None)
    key_ranges = _key_stats_for_merge(root, manifest, key)
    candidates, untouched = [], []
    for rel in manifest["files"]:
        if _range_disjoint(key_ranges.get(rel), lo, hi):
            untouched.append(rel)
        else:
            candidates.append(rel)
    current = _read_pinned(spark, root, manifest, candidates)
    rewritten = current.join(
        updates.select(key), key, "left_anti"
    ).unionByName(updates)
    commit_id, new_files = _write_rewrite(rewritten, root, manifest)
    _enforce_constraints(
        spark, root, manifest, new_files,
        [os.path.join(_DATA_DIR, commit_id)],
    )
    # Record the merged KEYS (O(keys) bytes, own flat dir so expire's
    # commit-dir walk stays single-level): the change feed replays this
    # COW rewrite as delete pre-image + insert post-image restricted to
    # these keys, instead of failing on the file delta.
    mk_dirname = f"{commit_id}-mk"
    mk_dir = os.path.join(root, _DATA_DIR, mk_dirname)
    updates.select(key).distinct().coalesce(1).write.mode("error").parquet(mk_dir)
    mk_files = sorted(
        os.path.join(_DATA_DIR, mk_dirname, name)
        for name in os.listdir(mk_dir)
        if name.endswith(".parquet") and not name.startswith(("_", "."))
    )
    files = untouched + new_files
    body = _inherit_maps(manifest, files)
    body["merge_info"] = {
        "key_col": key, "key_files": mk_files,
        "replaced_files": sorted(candidates),
    }
    bloom_cfg = manifest.get("bloom")
    if bloom_cfg:
        body["bloom"] = bloom_cfg
    if extra:
        body.update(extra)
    body.update(
        mode="merge", commit_id=commit_id, files=files, n_files=len(files),
        schema=manifest["schema"],
    )
    sidecar = _new_sidecar(
        spark, root, new_files, bloom_cfg, manifest.get("sketch"),
        manifest.get("sums"),
    )
    if new_files:
        body["commit_schemas"][commit_id] = manifest["schema"]
        body["commit_ranges"][commit_id] = _merge_ranges(sidecar["stats"])
    return _publish(root, versions, body, commit_id, sidecar if new_files else None)


# safe widening chains for merge_schema (Delta's mergeSchema upcasts):
# integral byte→short→int→long and float→double; anything else raises.
_WIDEN_RANK = {"byte": 0, "short": 1, "integer": 2, "long": 3}
_WIDEN_RANK_F = {"float": 0, "double": 1}


def _merge_schemas(target, src):
    """Evolved schema for ``merge_schema=True``: target fields first
    (widened where the source is safely wider), then source-only fields
    appended in source order. Unsafe type conflicts raise."""
    from pyspark.sql.types import StructField, StructType

    src_by_name = {f.name: f for f in src.fields}
    out = []
    for f in target.fields:
        s = src_by_name.get(f.name)
        if s is None or s.dataType == f.dataType:
            out.append(f)
            continue
        tn, sn = f.dataType.typeName(), s.dataType.typeName()
        for rank in (_WIDEN_RANK, _WIDEN_RANK_F):
            if tn in rank and sn in rank:
                wide = f.dataType if rank[tn] >= rank[sn] else s.dataType
                out.append(StructField(f.name, wide, True))
                break
        else:
            raise ValueError(
                f"merge_schema: column {f.name!r} cannot evolve "
                f"{f.dataType.simpleString()} <-> {s.dataType.simpleString()} "
                "(only byte/short/int/long and float/double widen)"
            )
    have = {f.name for f in target.fields}
    for f in src.fields:
        if f.name not in have:
            # added column: pre-evolution rows read it as NULL
            out.append(StructField(f.name, f.dataType, True))
    return StructType(out)


def _align_to_schema(df: DataFrame, schema) -> DataFrame:
    """Project ``df`` onto ``schema``: present columns cast to the target
    type, absent columns NULL — the merge-time twin of the read path's
    per-commit schema alignment."""
    from pyspark.sql import functions as F

    have = set(df.columns)
    return df.select(
        *[
            (
                F.col(f.name).cast(f.dataType)
                if f.name in have
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in schema.fields
        ]
    )


def snapshot_merge_into(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    key: str,
    matched_update: dict[str, str] | None = None,
    matched_update_condition: str | None = None,
    matched_delete_condition: str | None = None,
    insert_when_not_matched: bool = True,
    not_matched_condition: str | None = None,
    not_matched_by_source_delete: str | None = None,
    merge_schema: bool = False,
    extra: dict | None = None,
) -> dict:
    """Full MERGE INTO clause surface (Delta/Iceberg ``MERGE``) as one
    copy-on-write commit::

        MERGE INTO target t USING source s ON t.key = s.key
        WHEN MATCHED [AND <matched_delete_condition>] THEN DELETE
        WHEN MATCHED [AND <matched_update_condition>]
             THEN UPDATE SET col = <expr over t.*, s.*>, ...
        WHEN NOT MATCHED [AND <not_matched_condition>] THEN INSERT *
        WHEN NOT MATCHED BY SOURCE
             [AND <not_matched_by_source_delete>] THEN DELETE

    Clause order is fixed DELETE → UPDATE → carry (each clause sees only
    rows the earlier ones did not consume — the common MERGE layout).
    ``not_matched_by_source_delete`` (SQL over ``t.*`` only; ``'true'``
    for unconditional) deletes target rows whose key is ABSENT from the
    source — the sync-to-source shape. It is the one clause that cannot
    be key-range-pruned: EVERY file becomes a rewrite candidate, O(table)
    by definition (same as Delta) — leave it None for the O(touched)
    fast path.
    Expressions are SQL over the aliases ``t`` (target row) and ``s``
    (source row), e.g. ``{"v": "t.v + s.v"}``; results cast to the target
    column's type. ``source`` must be schema-identical to the table
    (INSERT * shape) unless ``merge_schema=True``, which evolves the
    table schema through the merge (Delta's ``mergeSchema``): source-only
    columns are APPENDED (existing rows read them as NULL through the
    per-commit schema machinery), and a common column may WIDEN along the
    safe numeric chains (byte→short→int→long, float→double) — old files
    up-cast on read; any other type conflict raises. A merge that changes
    no rows stays a metadata-only no-op and does NOT evolve the schema.

    ``source`` must be unique per ``key``: SQL MERGE raises when a target
    row matches more than one source row, and this implementation guards
    slightly stricter — duplicate non-null source keys raise outright
    (they would also insert duplicate keys into a keyed table). The check
    rides the min/max aggregate the planner already runs on the source,
    so it costs no extra scan.

    Execution is ``snapshot_merge``'s file-granular contract: zone maps
    pick candidate files on the source's key range, only those are read
    (pinned schema, tombstones folded) and rewritten; every other file is
    inherited by pointer. The commit records ``merge_info`` with the keys
    the merge actually CHANGED (deleted + updated + inserted — untouched
    matches are excluded), so the change feed replays it exactly: delete
    pre-image + insert post-image per updated key, pre-image only per
    deleted key, post-image only per inserted key — Delta CDF's pairs
    with no extra machinery. A merge that changes nothing publishes a
    metadata-only no-op version.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    if extra and (bad := set(extra) & _RESERVED_KEYS):
        raise ValueError(f"extra metadata may not override reserved keys: {sorted(bad)}")
    versions = snapshot_versions(root)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {root}")
    manifest = _load_manifest(root, versions[-1])
    table_schema = StructType.fromJson(json.loads(manifest["schema"]))
    if manifest["schema"] != _schema_json(source):
        if not merge_schema:
            raise ValueError(
                "snapshot_merge_into: source schema differs from table "
                "schema (INSERT * contract); pass merge_schema=True to "
                "evolve adds/widens through the merge"
            )
        evolved = _merge_schemas(table_schema, source.schema)
        # canonical serialization (nullability-normalized, same writer as
        # _schema_json) so later schema-equality string compares hold
        evolved = StructType(
            [StructField(f.name, f.dataType, True) for f in evolved.fields]
        )
        evolved_json = evolved.json()
    else:
        evolved = table_schema
        evolved_json = manifest["schema"]
    fields = evolved.fields
    cols = [f.name for f in fields]
    dtypes = {f.name: f.dataType for f in fields}
    if key not in cols or key not in source.columns:
        raise ValueError(f"snapshot_merge_into: key {key!r} missing")
    if matched_update:
        bad_cols = set(matched_update) - set(cols)
        if bad_cols:
            raise ValueError(f"matched_update: no such column(s) {sorted(bad_cols)}")
        if key in matched_update:
            raise ValueError("matched_update: may not update the merge key")

    lo, hi, n_nonnull, n_keys = source.agg(
        F.min(key), F.max(key), F.count(key), F.count_distinct(F.col(key))
    ).first()
    if n_nonnull != n_keys:
        raise ValueError(
            f"snapshot_merge_into: source has {n_nonnull - n_keys} "
            f"duplicate value(s) of key {key!r} — SQL MERGE requires at "
            "most one source row per key (duplicates would fan out "
            "matched target rows); de-duplicate the source first"
        )
    commit_id = uuid.uuid4().hex[:12]

    def _noop() -> dict:
        body = _inherit_maps(manifest, manifest["files"])
        if manifest.get("bloom"):
            body["bloom"] = manifest["bloom"]
        if extra:
            body.update(extra)
        body.update(
            mode="merge", commit_id=commit_id, files=list(manifest["files"]),
            n_files=manifest["n_files"], schema=manifest["schema"],
        )
        return _publish(root, versions, body, commit_id, None)

    if lo is None and not not_matched_by_source_delete:  # empty source
        return _noop()
    if not_matched_by_source_delete:
        # BY SOURCE clauses examine every target row: no key-range prune
        candidates, untouched = list(manifest["files"]), []
    else:
        key_ranges = _key_stats_for_merge(root, manifest, key)
        candidates, untouched = [], []
        for rel in manifest["files"]:
            if _range_disjoint(key_ranges.get(rel), lo, hi):
                untouched.append(rel)
            else:
                candidates.append(rel)
    t_raw = _read_pinned(spark, root, manifest, candidates)
    if evolved_json != manifest["schema"]:
        # align both sides to the evolved schema: new columns read NULL
        # on the target side / target-only columns read NULL on the
        # source side, widened columns up-cast — the same alignment the
        # read path applies to old commits after the schema changes
        t = _align_to_schema(t_raw, evolved).alias("t")
        s = _align_to_schema(source, evolved).alias("s")
    else:
        t = t_raw.alias("t")
        s = source.alias("s")
    on = F.col(f"t.{key}") == F.col(f"s.{key}")
    matched = t.join(s, on, "inner")
    del_cond = (
        F.coalesce(F.expr(matched_delete_condition), F.lit(False))
        if matched_delete_condition
        else F.lit(False)
    )
    upd_cond = (
        F.coalesce(F.expr(matched_update_condition), F.lit(False))
        if matched_update_condition
        else F.lit(True)
    ) if matched_update else F.lit(False)

    t_cols = [F.col(f"t.{c}").alias(c) for c in cols]
    updated = matched.where(~del_cond & upd_cond).select(
        *[
            F.expr(matched_update[c]).cast(dtypes[c]).alias(c)
            if c in (matched_update or {})
            else F.col(f"t.{c}").alias(c)
            for c in cols
        ]
    )
    deleted_keys = matched.where(del_cond).select(F.col(f"t.{key}").alias(key))
    carried_matched = matched.where(~del_cond & ~upd_cond).select(*t_cols)
    carried_unmatched = t.join(s.select(f"s.{key}"), key, "left_anti")
    if not_matched_by_source_delete:
        bs_cond = F.coalesce(
            F.expr(not_matched_by_source_delete), F.lit(False)
        )
        deleted_keys = deleted_keys.unionByName(
            carried_unmatched.where(bs_cond).select(F.col(f"t.{key}").alias(key))
        )
        carried_unmatched = carried_unmatched.where(~bs_cond)
    if insert_when_not_matched:
        inserts = s.join(t.select(f"t.{key}"), key, "left_anti")
        if not_matched_condition:
            inserts = inserts.where(
                F.coalesce(F.expr(not_matched_condition), F.lit(False))
            )
        inserts = inserts.select(*[F.col(f"s.{c}").alias(c) for c in cols])
    else:
        from airflow_postgres_csv_spark.operators.localframe import (
            arrow_local_df,
        )

        inserts = arrow_local_df(spark, [], t.schema).select(
            *[F.col(c) for c in cols]
        )
    # keys the merge actually CHANGED — the change feed's replay scope
    affected_keys = (
        updated.select(key)
        .unionByName(deleted_keys)
        .unionByName(inserts.select(key))
        .distinct()
    )
    # one small job decides no-op vs rewrite; localCheckpoint keeps the
    # multi-consumed key set from recomputing the three-way union per use
    affected_keys = affected_keys.localCheckpoint(eager=True)
    if affected_keys.isEmpty():  # JVM limit-1 probe, no Python-RDD hop
        return _noop()
    rewritten = (
        carried_unmatched.select(*[F.col(c) for c in cols])
        .unionByName(carried_matched)
        .unionByName(updated)
        .unionByName(inserts)
    )
    commit_id, new_files = _write_rewrite(rewritten, root, manifest)
    _enforce_constraints(
        spark, root, manifest, new_files,
        [os.path.join(_DATA_DIR, commit_id)],
    )
    mk_dirname = f"{commit_id}-mk"
    mk_dir = os.path.join(root, _DATA_DIR, mk_dirname)
    affected_keys.coalesce(1).write.mode("error").parquet(mk_dir)
    mk_files = sorted(
        os.path.join(_DATA_DIR, mk_dirname, name)
        for name in os.listdir(mk_dir)
        if name.endswith(".parquet") and not name.startswith(("_", "."))
    )
    files = untouched + new_files
    body = _inherit_maps(manifest, files)
    body["merge_info"] = {
        "key_col": key, "key_files": mk_files,
        "replaced_files": sorted(candidates),
    }
    bloom_cfg = manifest.get("bloom")
    if bloom_cfg:
        body["bloom"] = bloom_cfg
    if extra:
        body.update(extra)
    body.update(
        mode="merge", commit_id=commit_id, files=files, n_files=len(files),
        schema=evolved_json,
    )
    sidecar = _new_sidecar(
        spark, root, new_files, bloom_cfg, manifest.get("sketch"),
        manifest.get("sums"),
    )
    if new_files:
        body["commit_schemas"][commit_id] = evolved_json
        body["commit_ranges"][commit_id] = _merge_ranges(sidecar["stats"])
    return _publish(root, versions, body, commit_id, sidecar if new_files else None)


def snapshot_delete(
    spark: SparkSession, root: str, col: str, lo, hi
) -> dict:
    """Copy-on-write range DELETE (``lo <= col <= hi``) as a new version.

    Same file-granular contract as ``snapshot_merge``: zone maps pick the
    candidate files, each is rewritten without the matching rows, all
    others are inherited verbatim — O(touched range), not O(table). A
    candidate whose rows are all deleted simply contributes no output
    file. For trickle deletes (GDPR-style single keys) prefer
    ``snapshot_delete_mor``, which writes NO data files at all.
    """
    versions = snapshot_versions(root)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {root}")
    manifest = _load_manifest(root, versions[-1])
    key_ranges = _key_stats_for_merge(root, manifest, col)
    candidates, untouched = [], []
    for rel in manifest["files"]:
        if _range_disjoint(key_ranges.get(rel), lo, hi):
            untouched.append(rel)
        else:
            candidates.append(rel)
    commit_id = uuid.uuid4().hex[:12]
    if not candidates:  # nothing can match — metadata-only version bump
        body = _inherit_maps(manifest, untouched)
        if manifest.get("bloom"):
            body["bloom"] = manifest["bloom"]
        body.update(
            mode="delete", commit_id=commit_id, files=untouched,
            n_files=len(untouched), schema=manifest["schema"],
        )
        return _publish(root, versions, body, commit_id, None)
    from pyspark.sql import functions as F

    kept_rows = _read_pinned(spark, root, manifest, candidates).where(
        ~F.col(col).between(lo, hi)
    )
    commit_id, new_files = _write_rewrite(kept_rows, root, manifest)
    files = untouched + new_files
    body = _inherit_maps(manifest, files)
    # Record WHAT was deleted so the change feed can replay this rewrite
    # as range-masked delete pre-images from the replaced files (the
    # rewritten files hold only carried rows — nothing to emit there).
    # JSON-typed bounds only; exotic bound types simply omit the stamp
    # and the feed falls back to failing on the rewrite.
    if all(isinstance(b, (int, float, str, bool)) for b in (lo, hi)):
        body["delete_info"] = {"col": col, "lo": lo, "hi": hi}
    bloom_cfg = manifest.get("bloom")
    if bloom_cfg:
        body["bloom"] = bloom_cfg
    body.update(
        mode="delete", commit_id=commit_id, files=files, n_files=len(files),
        schema=manifest["schema"],
    )
    sidecar = _new_sidecar(
        spark, root, new_files, bloom_cfg, manifest.get("sketch"),
        manifest.get("sums"),
    )
    if new_files:
        body["commit_schemas"][commit_id] = manifest["schema"]
        body["commit_ranges"][commit_id] = _merge_ranges(sidecar["stats"])
    return _publish(root, versions, body, commit_id, sidecar if new_files else None)


def snapshot_delete_mor(
    spark: SparkSession, root: str, condition: str, key_col: str,
    extra: dict | None = None,
) -> dict:
    """Merge-on-read DELETE: a metadata-plus-tombstone commit that rewrites
    NOTHING.

    The copy-on-write path (``snapshot_delete``) rewrites every
    key-intersecting file — at 100 TB a GDPR-style 1-row delete would
    rewrite a whole file set. This path instead:

    1. evaluates ``condition`` (any SQL boolean expression) over the
       current version and writes the matching rows' ``key_col`` values to
       a tiny DELETE FILE (the equality-delete / delete-vector shape from
       the Iceberg/Delta playbook) under the commit's own directory;
    2. publishes a new manifest with the SAME data file list plus a
       tombstone entry recording the delete file, the key column, and the
       commit ids it applies to: the commits present at delete time whose
       key-column zone range can contain a deleted key (provably
       key-disjoint commits never pay the read-time anti-join). Rows
       appended LATER are exempt either way, so re-inserting a deleted
       key behaves like any MVCC table.

    Every read path applies tombstones as broadcast anti-joins on the key
    column; ``snapshot_compact`` folds them into a clean rewrite, after
    which the delete files become unreferenced and ``snapshot_expire``
    collects them. ``key_col`` must uniquely identify rows (a primary
    key): the anti-join removes ALL rows sharing a deleted key within the
    applicable commits. Cost: one scan to find the keys, O(deleted keys)
    bytes written, zero data files rewritten. ``extra`` metadata rides the
    tombstone commit's atomic publish (e.g. an index's stat update).
    """
    if extra and (bad := set(extra) & _RESERVED_KEYS):
        raise ValueError(f"extra metadata may not override reserved keys: {sorted(bad)}")
    versions = snapshot_versions(root)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {root}")
    manifest = _load_manifest(root, versions[-1])
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(manifest["schema"]))
    if key_col not in [f.name for f in schema.fields]:
        raise ValueError(f"snapshot_delete_mor: no such column {key_col!r}")
    keys = (
        _read_pinned(spark, root, manifest, manifest["files"])
        .where(F.expr(condition))
        .select(key_col)
        .distinct()
    )
    return _publish_key_tombstone(
        root, keys, key_col, condition, extra=extra,
        as_of_version=versions[-1],
    )


def _publish_key_tombstone(
    root: str, keys: "DataFrame", key_col: str, predicate: str,
    extra: dict | None = None,
    as_of_version: int | None = None,
) -> dict:
    """Publish an equality-delete commit from an already-computed DataFrame
    of distinct key values: the shared tail of ``snapshot_delete_mor`` and
    the CDC replay in ``snapshot_apply_changes``. Metadata-plus-delete-file
    only; no data file is touched.

    ``as_of_version`` pins the tombstone's SCOPE to the version the keys
    were computed against: if a concurrent commit moved the head since,
    publishing would otherwise sweep the newer commits into the
    tombstone's commit list and delete rows appended AFTER the delete's
    snapshot (breaking the later-appends-are-exempt contract), so the
    head drift raises ``SnapshotConflictError`` instead — recompute the
    keys against the new head and retry."""
    versions = snapshot_versions(root)
    if as_of_version is not None and versions and versions[-1] != as_of_version:
        raise SnapshotConflictError(
            f"head moved past version {as_of_version} "
            f"(now {versions[-1]}); recompute delete keys and retry"
        )
    manifest = _load_manifest(root, versions[-1])
    from pyspark.sql import functions as F

    krow = keys.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(key_col).alias("lo"),
        F.max(key_col).alias("hi"),
    ).first()
    n_keys, kmin, kmax = krow["n"], krow["lo"], krow["hi"]
    commit_id = uuid.uuid4().hex[:12]
    body = _inherit_maps(manifest, manifest["files"])
    if manifest.get("bloom"):
        body["bloom"] = manifest["bloom"]
    if extra:
        body.update(extra)
    body.update(
        mode="delete-mor", commit_id=commit_id, files=list(manifest["files"]),
        n_files=manifest["n_files"], schema=manifest["schema"],
    )
    if n_keys:
        delete_dir = os.path.join(root, _DATA_DIR, commit_id)
        keys.coalesce(1).write.mode("error").parquet(delete_dir)
        delete_files = sorted(
            os.path.join(_DATA_DIR, commit_id, name)
            for name in os.listdir(delete_dir)
            if name.endswith(".parquet") and not name.startswith(("_", "."))
        )
        # Scope the tombstone to commits whose ZONE RANGE on key_col can
        # contain any deleted key (footer min/max are conservative bounds
        # even when truncated). Commits provably key-disjoint never carry
        # the anti-join at read time — and a branch whose deletes only
        # touch its own appended commits stays rebase-publishable. A
        # commit with no usable range (absent column, mixed types, NaN)
        # is included: over-approximation is always safe.
        ranges = manifest.get("commit_ranges", {})

        def may_contain(cid: str) -> bool:
            rng = (ranges.get(cid) or {}).get(key_col)
            if not rng or rng[0] is None or rng[1] is None or kmin is None:
                return True
            try:
                return not (kmax < rng[0] or kmin > rng[1])
            except TypeError:
                return True

        body["tombstones"] = list(body.get("tombstones", [])) + [
            {
                "key_col": key_col,
                "predicate": predicate,
                "files": delete_files,
                "commits": sorted(
                    c
                    for c in {_commit_of(r) for r in manifest["files"]}
                    if may_contain(c)
                ),
                "n_keys": n_keys,
            }
        ]
    return _publish(root, versions, body, commit_id, None)


def snapshot_delete_positional(
    spark: SparkSession, root: str, condition: str
) -> dict:
    """Merge-on-read DELETE by ROW POSITION: the delete-vector shape.

    Where ``snapshot_delete_mor`` records deleted KEY VALUES (requires a
    unique key column; removes every row sharing a key),
    this records (file, row_index) addresses via the parquet reader's
    ``_metadata`` columns — no key column needed, exact rows only, so it
    works on tables with duplicate keys and conditions over any columns.
    The commit rewrites NOTHING: one scan finds the matching positions,
    O(deleted rows) address pairs land in a delete file, and reads apply
    them as a broadcast anti-join on (file, row_index). Positional
    tombstones bind to the exact files they address: a rewrite
    (merge/COW-delete/compact) reads through the tombstones and then
    drops them with the files they covered, and rows in files appended
    later are exempt by construction. This is Iceberg's positional
    delete / Delta's deletion-vector design point expressed over plain
    parquet + JSON.
    """
    versions = snapshot_versions(root)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {root}")
    manifest = _load_manifest(root, versions[-1])
    from pyspark.sql import functions as F

    src = _read_pinned(
        spark, root, manifest, manifest["files"], with_position=True
    )
    keys = src.where(F.expr(condition)).select(
        F.col("__file").alias("file"), F.col("__pos").alias("pos")
    )
    rows = keys.groupBy("file").count().collect()
    commit_id = uuid.uuid4().hex[:12]
    body = _inherit_maps(manifest, manifest["files"])
    if manifest.get("bloom"):
        body["bloom"] = manifest["bloom"]
    body.update(
        mode="delete-positional", commit_id=commit_id,
        files=list(manifest["files"]), n_files=manifest["n_files"],
        schema=manifest["schema"],
    )
    n_keys = sum(int(r["count"]) for r in rows)
    if n_keys:
        delete_dir = os.path.join(root, _DATA_DIR, commit_id)
        keys.coalesce(1).write.mode("error").parquet(delete_dir)
        delete_files = sorted(
            os.path.join(_DATA_DIR, commit_id, name)
            for name in os.listdir(delete_dir)
            if name.endswith(".parquet") and not name.startswith(("_", "."))
        )
        body["tombstones"] = list(body.get("tombstones", [])) + [
            {
                "kind": "positional",
                "predicate": condition,
                "files": delete_files,
                "applies": sorted(str(r["file"]) for r in rows),
                "n_keys": n_keys,
            }
        ]
    return _publish(root, versions, body, commit_id, None)


def snapshot_alter(
    root: str,
    add: dict | None = None,
    widen: dict | None = None,
    drop: list[str] | None = None,
    column_defaults: dict | None = None,
    rename: dict | None = None,
) -> dict:
    """Metadata-only ALTER TABLE: ADD COLUMN / widen type / DROP COLUMN
    / RENAME COLUMN as a ZERO-DATA commit (Delta/Iceberg's instant
    schema change).

    The new version pins the SAME files under the evolved schema; every
    read path already aligns each file to the version\'s pinned schema
    (added columns default-fill, widened columns up-cast, dropped
    columns prune — the rules of ``_read_pinned``), so the change is
    visible instantly at any table size with zero bytes rewritten, and
    time travel to older versions still reads the old shape.

    ``add`` maps name -> Spark type string (``"long"``, ``"double"``,
    ...); ``column_defaults`` optionally fills them for pre-ALTER rows
    (NULL otherwise). ``widen`` maps name -> wider type along the safe
    chains byte→short→int→long and float→double (anything else raises —
    the ``merge_schema`` contract). ``drop`` refuses columns the table\'s
    metadata still depends on: partition-spec sources, tombstone key
    columns, Bloom/sketch config columns.

    ``rename`` maps old -> new name (Iceberg's field-id rename,
    re-expressed as a per-version name lineage): the manifest's
    cumulative ``column_history`` records each current column's prior
    names, and every read path — pinned reads, the batch/streaming
    Python data sources, CDC, MERGE, zone-map/commit-range pruning —
    resolves a current name to the physical name each file was written
    under, so files written before the rename read under the new name
    with zero bytes rewritten while time travel shows each version's
    own names. Renaming a column the table's metadata depends on
    (partition-spec sources, live tombstone keys, Bloom/sketch config)
    is REFUSED — evolve those with a rewrite instead. Retired names
    stay reserved: re-adding (or renaming another column to) a name an
    existing column once carried — a prior rename name OR a dropped
    column (``retired_columns``) — would ambiguously re-bind the old
    files' physical data, so it raises (conservative relative to
    Iceberg, whose field-ids allow the re-add; here names ARE the ids).
    """
    import json as _json

    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    versions = snapshot_versions(root)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {root}")
    prev = _load_manifest(root, versions[-1])
    schema = StructType.fromJson(_json.loads(prev["schema"]))
    fields = {f.name: f for f in schema.fields}
    add, widen, drop = add or {}, widen or {}, list(drop or [])
    rename = dict(rename or {})
    history = {
        k: list(v) for k, v in (prev.get("column_history") or {}).items()
    }
    # names that may still exist PHYSICALLY in already-written files under
    # a different binding: prior names of renamed columns, plus every
    # dropped column (its data lingers in pre-drop files — re-binding the
    # name would resurface it instead of the new column's default)
    dropped_reserved = set(prev.get("retired_columns") or [])
    retired = (
        {h for chain in history.values() for h in chain} | dropped_reserved
    )
    for name in add:
        if name in fields:
            raise ValueError(f"ADD COLUMN {name!r}: already exists")
        if name in retired:
            raise ValueError(
                f"ADD COLUMN {name!r}: a renamed or dropped column once "
                "carried this name; re-binding it would ambiguously "
                "resurface old files' physical data"
            )
    for name, t in widen.items():
        if name not in fields:
            raise ValueError(f"widen {name!r}: no such column")
        old = fields[name].dataType.typeName()
        new_t = _parse_datatype_string(t).typeName()
        ok = any(
            old in rank and new_t in rank and rank[new_t] > rank[old]
            for rank in (_WIDEN_RANK, _WIDEN_RANK_F)
        )
        if not ok:
            raise ValueError(
                f"widen {name!r}: {old} -> {new_t} is not a safe widening "
                "(byte/short/int/long and float/double chains only)"
            )
    protected: set[str] = set()
    for spec in prev.get("partition_specs") or []:
        protected |= {f[0] for f in spec}
    for t in prev.get("tombstones", []):
        if t.get("key_col"):
            protected.add(t["key_col"])
    protected |= set((prev.get("bloom") or {}).get("cols", []))
    protected |= set((prev.get("sketch") or {}).get("cols", []))
    so_cols = set(prev.get("sort_order") or [])
    sum_cols_cfg = set((prev.get("sums") or {}).get("cols", []))
    for name in drop:
        if name in so_cols:
            raise ValueError(
                f"DROP COLUMN {name!r}: the declared sort order "
                f"{prev['sort_order']} depends on it — re-declare "
                "sort_order on a commit first"
            )
        if name in sum_cols_cfg:
            # the sticky sum config would make the NEXT write's
            # _build_sums reference a missing column
            raise ValueError(
                f"DROP COLUMN {name!r}: the per-commit sum rollup config "
                "still lists it — rewrite the table to reconfigure"
            )
    # declared-constraint dependencies: conservative word match on the
    # stored SQL text (a column name inside a string literal refuses too
    # — drop the constraint first, then the column)
    import re as _re

    for cname, cexpr in (prev.get("constraints") or {}).items():
        for col in drop + list(rename):
            if _re.search(rf"\b{_re.escape(col)}\b", cexpr):
                raise ValueError(
                    f"column {col!r} appears in declared constraint "
                    f"{cname!r} ({cexpr!r}) — snapshot_drop_constraint "
                    "first"
                )
    for name in drop:
        if name not in fields:
            raise ValueError(f"DROP COLUMN {name!r}: no such column")
        if name in protected:
            raise ValueError(
                f"DROP COLUMN {name!r}: partition specs, tombstone keys, "
                "or Bloom/sketch configs still depend on it"
            )
    targets = list(rename.values())
    if len(set(targets)) != len(targets):
        raise ValueError(
            f"RENAME COLUMN: duplicate target names {sorted(targets)}"
        )
    for old, new in rename.items():
        if old not in fields:
            raise ValueError(f"RENAME COLUMN {old!r}: no such column")
        if old in drop or old in widen or old in rename.values():
            raise ValueError(
                f"RENAME COLUMN {old!r}: also dropped/widened/renamed-to "
                "in the same ALTER — split the statements"
            )
        if old in protected:
            raise ValueError(
                f"RENAME COLUMN {old!r}: partition specs, tombstone keys, "
                "or Bloom/sketch configs still depend on it — rewrite "
                "those first"
            )
        # a same-ALTER drop does NOT free its name for rename: the
        # dropped column's data lingers physically in old files and
        # would resurface under the renamed binding
        if new in (set(fields) - {old}) | set(add):
            raise ValueError(f"RENAME COLUMN {old!r} -> {new!r}: name taken")
        if new in retired:
            raise ValueError(
                f"RENAME COLUMN {old!r} -> {new!r}: a renamed or dropped "
                "column once carried this name; re-binding it would be "
                "ambiguous for old files"
            )
    out_fields = []
    for f in schema.fields:
        if f.name in drop:
            continue
        name = rename.get(f.name, f.name)
        dtype = (
            _parse_datatype_string(widen[f.name])
            if f.name in widen
            else f.dataType
        )
        out_fields.append(StructField(name, dtype, True))
    for name, t in add.items():
        out_fields.append(StructField(name, _parse_datatype_string(t), True))
    new_schema = StructType(out_fields)
    for name in drop:
        # a dropped column's name — and every prior name on its rename
        # chain — stays reserved: the physical data lingers in old files
        dropped_reserved |= {name, *history.pop(name, [])}
    for old, new in rename.items():
        history[new] = [old] + history.pop(old, [])
    commit_id = uuid.uuid4().hex[:12]
    body = _inherit_maps(prev, prev["files"])
    if "sort_order" in body and rename:
        # a rename leaves the physical layout (and the sorted stamps)
        # untouched — the declared order follows the new name
        body["sort_order"] = [
            rename.get(c, c) for c in body["sort_order"]
        ]
    if "sums" in body and rename:
        # the sticky sum config follows the rename too: new files record
        # sums under the new physical name, old commits resolve through
        # the rename lineage exactly like MIN/MAX zone maps
        body["sums"] = {
            **body["sums"],
            "cols": sorted(
                rename.get(c, c) for c in body["sums"].get("cols", [])
            ),
        }
    for key in ("bloom", "sketch"):
        if key in prev:
            body[key] = prev[key]
    defaults = {
        rename.get(k, k): v
        for k, v in body.get("defaults", {}).items()
        if k not in drop
    }
    if column_defaults:
        unknown = set(column_defaults) - {f.name for f in new_schema.fields}
        if unknown:
            raise ValueError(f"defaults for unknown columns: {sorted(unknown)}")
        defaults.update(column_defaults)
    if defaults:
        body["defaults"] = defaults
    else:
        body.pop("defaults", None)
    if history:
        body["column_history"] = history
    else:
        body.pop("column_history", None)
    if dropped_reserved:
        body["retired_columns"] = sorted(dropped_reserved)
    body.update(
        mode="alter",
        commit_id=commit_id,
        files=list(prev["files"]),
        n_files=prev["n_files"],
        schema=new_schema.json(),
        alter={"add": add, "widen": widen, "drop": drop, "rename": rename},
    )
    return _publish(root, versions, body, commit_id, None)


def snapshot_add_constraint(
    spark: SparkSession, root: str, name: str, expr: str
) -> dict:
    """Declare a persistent CHECK constraint (Delta's ``ALTER TABLE ADD
    CONSTRAINT``): a boolean SQL expression every row must satisfy,
    stored in the manifest and enforced on every value-introducing write
    from then on — appends, overwrites, staged data-source writes, MERGE
    upserts, MERGE INTO, UPDATE (one extra aggregation over the STAGED
    files only, never a table rescan; a violating batch aborts with
    ``SnapshotExpectationError`` before the manifest link). Row-
    preserving rewrites (compact/optimize/clone) and row-removing ones
    (COW/MOR delete) skip the check — they cannot introduce violations.

    Adding VALIDATES the existing table first (one aggregation over the
    current version, like Delta): any live violating row refuses the
    constraint. The declaration itself is a zero-data metadata commit;
    constraints survive compaction, rollback, clone, and branching, and
    ``snapshot_alter`` refuses dropping or renaming a column a
    constraint mentions (conservative word match on the stored SQL).
    """
    from pyspark.sql import functions as F

    versions = snapshot_versions(root)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {root}")
    prev = _load_manifest(root, versions[-1])
    declared = dict(prev.get("constraints") or {})
    if name in declared:
        raise ValueError(
            f"constraint {name!r} already declared ({declared[name]!r}); "
            "snapshot_drop_constraint first to redefine"
        )
    violations = _violation_counts(snapshot_read(spark, root), [(name, expr)])
    if violations:
        raise SnapshotExpectationError(violations)
    declared[name] = expr
    commit_id = uuid.uuid4().hex[:12]
    body = _inherit_maps(prev, prev["files"])
    body["constraints"] = declared
    body.update(
        mode="alter", commit_id=commit_id, files=prev["files"],
        n_files=prev["n_files"], schema=prev["schema"],
        alter={"add_constraint": {name: expr}},
    )
    return _publish(
        root, versions, body, commit_id, None,
        pack_hints=dict.get(prev, "commit_files"),
    )


def snapshot_drop_constraint(root: str, name: str) -> dict:
    """Remove a declared constraint as a zero-data metadata commit."""
    versions = snapshot_versions(root)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {root}")
    prev = _load_manifest(root, versions[-1])
    declared = dict(prev.get("constraints") or {})
    if name not in declared:
        raise KeyError(f"no declared constraint {name!r} (have {sorted(declared)})")
    del declared[name]
    commit_id = uuid.uuid4().hex[:12]
    body = _inherit_maps(prev, prev["files"])
    body["constraints"] = declared
    body.update(
        mode="alter", commit_id=commit_id, files=prev["files"],
        n_files=prev["n_files"], schema=prev["schema"],
        alter={"drop_constraint": name},
    )
    return _publish(
        root, versions, body, commit_id, None,
        pack_hints=dict.get(prev, "commit_files"),
    )


def snapshot_rollback(spark: SparkSession, root: str, to_version: int) -> dict:
    """Undo as a FORWARD commit: publish a new version whose logical state
    (file list, schema, tombstones, per-commit metadata) is exactly
    ``to_version``'s. History is never rewritten — the bad versions stay
    time-travelable until ``snapshot_expire`` — and readers switch over at
    the same atomic manifest link as any commit. This is the production
    mistake-recovery path: O(manifest) metadata, zero data movement.
    """
    versions = snapshot_versions(root)
    if to_version not in versions:
        raise FileNotFoundError(f"version {to_version} not in {versions}")
    target = _load_manifest(root, to_version)
    commit_id = uuid.uuid4().hex[:12]
    body = {
        k: target[k]
        for k in (
            "files", "n_files", "schema", "commit_schemas", "sidecars",
            "commit_ranges", "tombstones",
        )
        if k in target
    }
    for k in ("bloom", "defaults", "partition_spec", "last_batch_id",
              "cdc_applied_version", "ivm_applied_version",
              "ivm_applied_a", "ivm_applied_b",
              "commit_sizes", "sketch_commits", "small_bytes",
              "partition_specs", "commit_partitions", "constraints",
              "sums", "commit_sums", "sort_order", "sorted_commits",
              # restore the target's sketch config, rename lineage /
              # retired-name reservations, and frozen index/model
              # metadata verbatim — dropping them would NULL-fill
              # renamed columns and break index serving after a rollback
              "sketch", "column_history", "retired_columns",
              "ann_index", "text_index", "classifier"):
        if k in target:
            body[k] = target[k]
    # the batch-id high-water mark must never move backwards (the gate
    # max-scans retained manifests, but keep the latest authoritative)
    latest = _load_manifest(root, versions[-1])
    if latest.get("last_batch_id", -1) > body.get("last_batch_id", -1):
        body["last_batch_id"] = latest["last_batch_id"]
    # declared constraints are table GOVERNANCE, not data: rolling back
    # bad rows must not silently drop integrity rules declared since the
    # target version (explicit snapshot_drop_constraint is the only out).
    # The resurrected state must HOLD them — a target version written
    # before the declaration may contain rows a later cleanup removed, so
    # re-validate (one aggregation; rollbacks are rare administrative
    # ops) and refuse rather than reopen the invariant.
    # head-wins on the declaration set even when EMPTY: rolling data back
    # must neither resurrect a dropped constraint (the target's copy) nor
    # drop ones declared since — key presence, not truthiness, decides
    if "constraints" in latest:
        body["constraints"] = latest["constraints"]
    if latest.get("constraints"):
        from pyspark.sql import functions as F

        # validate only the RESURRECTED rows — O(delta), not O(table):
        # a file pinned at head with identical tombstone coverage is
        # already proven valid by the head invariant. Resurrection means
        # (a) a file the head no longer pins, or (b) a head tombstone
        # that the target does not apply to a shared file. The common
        # rollback of an append-only table resurrects nothing → no scan.
        latest_files = set(latest["files"])
        l_tombs = latest.get("tombstones", [])
        t_tombs = target.get("tombstones", [])

        def _coverage(tombs, rel):
            cid = _commit_of(rel)
            return sorted(
                json.dumps(t, sort_keys=True)
                for t in tombs
                if _tombstone_applies(t, cid, rel)
            )

        check = [
            rel
            for rel in target["files"]
            if rel not in latest_files
            or _coverage(l_tombs, rel) != _coverage(t_tombs, rel)
        ]
        if check:
            violations = _violation_counts(
                _read_pinned(spark, root, target, check),
                sorted(latest["constraints"].items()),
            )
            if violations:
                raise SnapshotExpectationError(violations)
    body.update(mode="rollback", commit_id=commit_id, rolled_back_to=to_version)
    return _publish(
        root, versions, body, commit_id, None,
        pack_hints=dict.get(target, "commit_files"),
    )


def _tags_dir(root: str) -> str:
    return os.path.join(root, _MANIFEST_DIR, "tags")


def snapshot_tag(root: str, name: str, version: int | None = None) -> dict:
    """Name a version (``'train-v3'`` → version N): the reproducibility
    ref a training run records instead of a raw number. Tags are tiny
    JSON files swapped in atomically (re-tagging replaces); a tagged
    version is protected from ``snapshot_expire``."""
    if not name or "/" in name or name.startswith("."):
        raise ValueError(f"invalid tag name {name!r}")
    versions = snapshot_versions(root)
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise FileNotFoundError(f"version {version} not in {versions}")
    os.makedirs(_tags_dir(root), exist_ok=True)
    path = os.path.join(_tags_dir(root), f"{name}.json")
    tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump({"name": name, "version": version}, f)
    os.replace(tmp, path)  # atomic: readers see old tag or new, never torn
    return {"name": name, "version": version}


def snapshot_tags(root: str) -> dict[str, int]:
    """All tags, name → version."""
    tdir = _tags_dir(root)
    if not os.path.isdir(tdir):
        return {}
    out = {}
    for fname in os.listdir(tdir):
        if fname.endswith(".json") and ".tmp-" not in fname:
            try:
                with open(os.path.join(tdir, fname)) as f:
                    t = json.load(f)
                out[t["name"]] = t["version"]
            except (OSError, ValueError, KeyError):
                continue
    return out


def resolve_version(root: str, version: int | str | None) -> int | None:
    """Resolve a tag name to its version number (ints pass through)."""
    if isinstance(version, str):
        tags = snapshot_tags(root)
        if version not in tags:
            raise FileNotFoundError(f"no tag {version!r} (tags: {sorted(tags)})")
        return tags[version]
    return version


def _referenced_files(root: str, versions: list[int]) -> tuple[set, set]:
    """Every file the given manifest versions pin — data files, delete/
    tombstone files, MERGE key files — plus the referenced stats-sidecar
    rels. THE single source of truth for GC safety: ``snapshot_expire``
    and ``snapshot_vacuum`` both collect against this set, so a new
    manifest-pinned file kind added here protects both paths at once."""
    referenced: set[str] = set()
    referenced_sidecars: set[str] = set()
    for v in versions:
        m = _load_manifest(root, v)
        referenced.update(m["files"])
        for t in m.get("tombstones", []):
            referenced.update(t["files"])
        if m.get("merge_info"):
            referenced.update(m["merge_info"]["key_files"])
        referenced_sidecars.update(m.get("sidecars", {}).values())
    return referenced, referenced_sidecars


def snapshot_expire(
    root: str, keep_last: int = 1, older_than_ns: int | None = None
) -> dict:
    """Drop all but the newest ``keep_last`` manifests and delete data
    files, delete (tombstone) files, stats sidecars, and then-empty commit
    dirs no retained version references.

    ``older_than_ns`` adds Iceberg's age-based retention: versions whose
    ``committed_at`` is >= the cutoff are PROTECTED from ``keep_last``
    (expire drops only versions that are both superseded beyond
    ``keep_last`` AND older than the cutoff), so a time-travel /
    reproducibility window survives aggressive count-based policies.

    Orphaned commit dirs and sidecars from crashed/lost commits (data
    written, manifest link never happened) are collected too: they are
    unreferenced by construction. TAGGED versions (``snapshot_tag``) are
    always retained regardless of ``keep_last`` — a named training
    snapshot cannot be GC'd out from under its run. Time travel to an
    expired version stops working — that is the contract (pin retention
    to the reproducibility window). Must not run concurrently with an
    in-flight commit (the usual GC-vs-writer caveat): a commit's staged
    files look orphaned until its manifest links.
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = snapshot_versions(root)
    tagged = set(snapshot_tags(root).values())
    keep = set(versions[-keep_last:]) | (tagged & set(versions))
    if older_than_ns is not None:
        keep |= {
            v
            for v in versions
            if _load_manifest(root, v).get("committed_at", 0) >= older_than_ns
        }
    keep = sorted(keep)
    drop = [v for v in versions if v not in keep]
    referenced, referenced_sidecars = _referenced_files(root, keep)
    removed_files = 0
    # O(1) per-commit membership (a startswith scan over the referenced
    # set would be O(commits x files) at 10^6-file scale)
    ref_commits = {_commit_of(r) for r in referenced}
    data_root = os.path.join(root, _DATA_DIR)
    if os.path.isdir(data_root):
        for commit_id in sorted(os.listdir(data_root)):
            cdir = os.path.join(data_root, commit_id)
            if not os.path.isdir(cdir):
                continue
            commit_referenced = commit_id in ref_commits
            # bottom-up walk: hidden-partitioned commits nest hive dirs
            # (data/<cid>/_p0=…/part-*.parquet) below the commit dir
            for dirpath, _, filenames in os.walk(cdir, topdown=False):
                for name in sorted(filenames):
                    full = os.path.join(dirpath, name)
                    rel = os.path.relpath(full, root)
                    keep_file = rel in referenced or (
                        # parquet sidecars (_SUCCESS, .crc) live and die
                        # with their commit dir
                        not name.endswith(".parquet") and commit_referenced
                    )
                    if not keep_file:
                        os.remove(full)
                        if name.endswith(".parquet"):
                            removed_files += 1
                if dirpath != cdir and not os.listdir(dirpath):
                    os.rmdir(dirpath)
            if not os.listdir(cdir):
                shutil.rmtree(cdir)
    mdir = os.path.join(root, _MANIFEST_DIR)
    if os.path.isdir(mdir):
        for name in sorted(os.listdir(mdir)):
            if name.startswith("sc-") and name.endswith(".json"):
                rel = os.path.join(_MANIFEST_DIR, name)
                if rel not in referenced_sidecars:
                    os.remove(os.path.join(mdir, rel.split(os.sep)[-1]))
    for v in drop:
        os.remove(_manifest_path(root, v))
    return {
        "expired_versions": drop,
        "kept_versions": keep,
        "removed_data_files": removed_files,
    }


def snapshot_vacuum(
    root: str,
    older_than_ns: int | None = None,
    dry_run: bool = False,
) -> dict:
    """Remove ORPHAN files: anything under the table root that no
    retained manifest pins — Iceberg's ``remove_orphan_files``, the GC
    that ``snapshot_expire`` is not (expire collects files by dropping
    VERSIONS; vacuum keeps every version and collects only storage debt
    no version ever references).

    The debt it targets: a hard-crashed writer that staged
    ``data/<cid>/`` files and died before its manifest link, a publish
    that hardlinked a branch's files into the root and crashed before
    the manifest link, leaked stats sidecars. At 100 TB with fleets of
    writers this is real storage.

    Safety, in order:

    - files referenced by ANY retained version (not just the head) —
      data, delete/tombstone, MERGE key files, sidecars — are never
      touched, so time travel and tags are unaffected;
    - only files whose mtime is older than ``older_than_ns`` (default:
      7 days ago) are collected, so an IN-FLIGHT commit or publish —
      staged files whose manifest link hasn't happened yet — survives
      (Iceberg's exact contract; pass a recent cutoff only when no
      writer can be in flight);
    - branches are untouched: ``_branches/`` is not walked, and
      removing a root-side orphan NAME never destroys a branch's copy
      (hardlinks share the inode — the branch keeps its own link), so a
      crashed publish stays retryable (``_link_back`` re-links missing
      names);
    - ``dry_run=True`` reports what would be removed, removes nothing.

    Cost: O(versions) manifest reads + one listing of ``data/`` and
    ``manifests/`` — no data I/O, no Spark job. Returns
    ``{"removed_files", "removed_bytes", "candidates", "dry_run"}``
    where ``candidates`` is the root-relative orphan list.
    """
    versions = snapshot_versions(root)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {root}")
    if older_than_ns is None:
        older_than_ns = time.time_ns() - 7 * 86400 * 10**9
    referenced, referenced_sidecars = _referenced_files(root, versions)
    candidates: list[str] = []
    removed_bytes = 0
    # O(1) per-commit membership (a startswith scan over the referenced
    # set would be O(commits x files) at 10^6-file scale)
    ref_commits = {_commit_of(r) for r in referenced}
    data_root = os.path.join(root, _DATA_DIR)
    if os.path.isdir(data_root):
        for commit_id in sorted(os.listdir(data_root)):
            cdir = os.path.join(data_root, commit_id)
            if not os.path.isdir(cdir):
                continue
            commit_referenced = commit_id in ref_commits
            for dirpath, _, filenames in os.walk(cdir, topdown=False):
                for name in sorted(filenames):
                    full = os.path.join(dirpath, name)
                    rel = os.path.relpath(full, root)
                    if rel in referenced or (
                        # parquet sidecars (_SUCCESS, .crc) live and die
                        # with their commit dir
                        not name.endswith(".parquet") and commit_referenced
                    ):
                        continue
                    st = os.stat(full)
                    if st.st_mtime_ns >= older_than_ns:
                        continue  # inside the in-flight safety window
                    candidates.append(rel)
                    removed_bytes += st.st_size
                    if not dry_run:
                        os.remove(full)
                if not dry_run and dirpath != cdir and not os.listdir(dirpath):
                    os.rmdir(dirpath)
            if not dry_run and not os.listdir(cdir):
                shutil.rmtree(cdir)
    mdir = os.path.join(root, _MANIFEST_DIR)
    if os.path.isdir(mdir):
        for name in sorted(os.listdir(mdir)):
            if not (name.startswith("sc-") and name.endswith(".json")):
                continue
            rel = os.path.join(_MANIFEST_DIR, name)
            if rel in referenced_sidecars:
                continue
            full = os.path.join(mdir, name)
            st = os.stat(full)
            if st.st_mtime_ns >= older_than_ns:
                continue
            candidates.append(rel)
            removed_bytes += st.st_size
            if not dry_run:
                os.remove(full)
    return {
        "removed_files": 0 if dry_run else len(candidates),
        "removed_bytes": 0 if dry_run else removed_bytes,
        "candidates": sorted(candidates),
        "dry_run": dry_run,
    }


def snapshot_clone(
    src_root: str,
    dst_root: str,
    version: int | str | None = None,
) -> dict:
    """Zero-copy CLONE of a snapshot table (Delta's shallow clone, made
    safely independent): every data/delete/sidecar file of the pinned
    source version is HARDLINKED into the clone root (same inode, zero
    bytes moved — data files are immutable so sharing is safe), and the
    clone starts its own history at version 1 with the source's schema,
    tombstones, Bloom config, and per-commit metadata carried over.

    The clone is fully independent afterwards: commits, deletes,
    compaction, and ``snapshot_expire`` on either side never affect the
    other (expire unlinks names; shared inodes survive until BOTH sides
    drop them). This is the cheap-experimentation primitive: fork a
    100 TB table in O(files) metadata operations, try a migration, throw
    the clone away. Requires both roots on one filesystem (hardlink
    semantics); raises OSError otherwise.
    """
    versions = snapshot_versions(src_root)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {src_root}")
    v = resolve_version(src_root, version)
    if v is None:
        v = versions[-1]
    if v not in versions:
        raise FileNotFoundError(f"version {v} not in {versions}")
    m = _load_manifest(src_root, v)
    if snapshot_versions(dst_root):
        raise FileExistsError(f"clone target {dst_root} already has versions")
    to_link = list(m["files"])
    for t in m.get("tombstones", []):
        to_link.extend(t["files"])
    if m.get("merge_info"):
        to_link.extend(m["merge_info"]["key_files"])
    for rel in to_link:
        dst = os.path.join(dst_root, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        if not os.path.exists(dst):
            os.link(os.path.join(src_root, rel), dst)
    sidecars = {}
    for cid, sc_rel in m.get("sidecars", {}).items():
        dst = os.path.join(dst_root, sc_rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        if not os.path.exists(dst):
            os.link(os.path.join(src_root, sc_rel), dst)
        sidecars[cid] = sc_rel
    commit_id = uuid.uuid4().hex[:12]
    body = {
        k: m[k]
        for k in (
            "files", "n_files", "schema", "commit_schemas", "commit_ranges",
            "tombstones",
        )
        if k in m
    }
    body["sidecars"] = sidecars
    for k in ("bloom", "defaults", "partition_spec",
              "commit_sizes", "sketch_commits", "small_bytes",
              "partition_specs", "commit_partitions", "constraints",
              "sums", "commit_sums", "sort_order", "sorted_commits",
              # sketch CONFIG rides with sketch_commits; rename lineage
              # and frozen index/model metadata must survive a clone or
              # the clone null-fills renamed columns / cannot serve
              "sketch", "column_history", "retired_columns",
              "ann_index", "text_index", "classifier"):
        if k in m:
            body[k] = m[k]
    body.update(mode="clone", commit_id=commit_id, cloned_from=v)
    return _publish(
        dst_root, [], body, commit_id, None,
        pack_hints=dict.get(m, "commit_files"),
    )


def snapshot_update(
    spark: SparkSession,
    root: str,
    condition: str,
    set_exprs: dict[str, str],
    key_col: str,
) -> dict:
    """SQL UPDATE (``UPDATE t SET col = expr, ... WHERE condition``) as a
    keyed COW merge: one scan finds the matching rows, the SET
    expressions (any SQL over the row's columns) produce their new
    images, and ``snapshot_merge`` rewrites only the key-intersecting
    files. Completes the DML triad next to ``snapshot_delete*`` and
    ``snapshot_merge`` — and because it IS a merge commit, the change
    feed streams it as delete pre-image + insert post-image pairs and
    CDC replay applies it downstream with no extra machinery.
    """
    from pyspark.sql import functions as F

    versions = snapshot_versions(root)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {root}")
    manifest = _load_manifest(root, versions[-1])
    from pyspark.sql.types import StructType

    cols = [
        f.name
        for f in StructType.fromJson(json.loads(manifest["schema"])).fields
    ]
    bad = set(set_exprs) - set(cols)
    if bad:
        raise ValueError(f"snapshot_update: no such column(s) {sorted(bad)}")
    if key_col in set_exprs:
        raise ValueError("snapshot_update: may not update the key column")
    updates = (
        _read_pinned(spark, root, manifest, manifest["files"])
        .where(F.expr(condition))
        .select(
            *[
                F.expr(set_exprs[c]).cast(
                    dict(zip(cols, StructType.fromJson(
                        json.loads(manifest["schema"])
                    ).fields))[c].dataType
                ).alias(c)
                if c in set_exprs
                else F.col(c)
                for c in cols
            ]
        )
    )
    return snapshot_merge(spark, root, updates, key=key_col)


def snapshot_update_where(
    spark: SparkSession,
    root: str,
    condition: str,
    set_exprs: dict[str, str],
    extra: dict | None = None,
) -> dict:
    """KEYLESS SQL UPDATE as ONE merge-on-read commit: positional
    tombstones retract the pre-image rows and the post-images append
    beside them, atomically — the Iceberg-v2 delete-vector-plus-data-file
    snapshot shape, and the execution Delta reserves for deletion-vector
    updates. Where :func:`snapshot_update` needs a unique key column (it
    is a COW merge), this addresses rows by (file, row_index), so it
    works on tables with duplicate or absent keys and costs O(changed
    rows) — address pairs plus post-image bytes — with NO file rewrites;
    at 100 TB a 100-row UPDATE moves kilobytes. The trade is the
    standard MOR one: reads carry the tombstone anti-join until
    compaction folds it.

    One scan finds the matching rows (predicate pushed to parquet) and
    feeds both sides: their addresses become the delete vector, their
    SET-transformed images (any SQL over the row's columns; results cast
    to the declared column types) become the appended files, written
    under the table's partition spec like any commit, with declared
    CHECK constraints validated against the staged post-images before
    publish. The change feed needs no new machinery: the commit's new
    tombstone emits the delete pre-images and its added files emit the
    insert post-images — exactly the UPDATE pair CDC expects. A
    no-match UPDATE publishes nothing and returns
    ``{"updated_rows": 0}``.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    versions = snapshot_versions(root)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {root}")
    manifest = _load_manifest(root, versions[-1])
    fields = StructType.fromJson(json.loads(manifest["schema"])).fields
    cols = [f.name for f in fields]
    types = {f.name: f.dataType for f in fields}
    bad = set(set_exprs) - set(cols)
    if bad:
        raise ValueError(
            f"snapshot_update_where: no such column(s) {sorted(bad)}"
        )
    matched = (
        _read_pinned(
            spark, root, manifest, manifest["files"], with_position=True
        )
        .where(F.expr(condition))
        .persist()
    )
    try:
        addr = matched.select(
            F.col("__file").alias("file"), F.col("__pos").alias("pos")
        )
        per_file = addr.groupBy("file").count().collect()
        n_rows = sum(int(r["count"]) for r in per_file)
        if n_rows == 0:
            return {
                "updated_rows": 0, "version": versions[-1],
                "committed": False,
            }
        post = matched.select(
            *[
                F.expr(set_exprs[c]).cast(types[c]).alias(c)
                if c in set_exprs
                else F.col(c)
                for c in cols
            ]
        )
        commit_id, new_files = _write_rewrite(post, root, manifest)
        rules = sorted((manifest.get("constraints") or {}).items())
        if rules:
            violations = _staged_violations(spark, root, new_files, rules)
            if violations:
                shutil.rmtree(
                    os.path.join(root, _DATA_DIR, commit_id),
                    ignore_errors=True,
                )
                raise SnapshotExpectationError(violations)
        # the delete vector lives under its own dir so no sidecar/commit
        # enumeration can ever mistake it for a data file of this commit
        vec_id = uuid.uuid4().hex[:12]
        vec_dir = os.path.join(root, _DATA_DIR, vec_id)
        addr.coalesce(1).write.mode("error").parquet(vec_dir)
        vec_files = sorted(
            os.path.join(_DATA_DIR, vec_id, name)
            for name in os.listdir(vec_dir)
            if name.endswith(".parquet") and not name.startswith(("_", "."))
        )
        sidecar = _new_sidecar(
            spark, root, new_files, manifest.get("bloom"),
            manifest.get("sketch"), manifest.get("sums"),
        )
        files = list(manifest["files"]) + new_files
        body = _inherit_maps(manifest, files)
        if manifest.get("bloom"):
            body["bloom"] = manifest["bloom"]
        if extra:
            reserved = set(body) | {
                "mode", "commit_id", "files", "n_files", "schema",
            }
            bad_keys = set(extra) & reserved
            if bad_keys:
                raise ValueError(
                    "extra metadata may not override reserved keys: "
                    f"{sorted(bad_keys)}"
                )
            body.update(extra)
        body.update(
            mode="update-mor", commit_id=commit_id, files=files,
            n_files=len(files), schema=manifest["schema"],
        )
        body["commit_schemas"][commit_id] = manifest["schema"]
        body["commit_ranges"][commit_id] = _merge_ranges(sidecar["stats"])
        body["tombstones"] = list(body.get("tombstones", [])) + [
            {
                "kind": "positional",
                "predicate": condition,
                "files": vec_files,
                "applies": sorted(str(r["file"]) for r in per_file),
                "n_keys": n_rows,
            }
        ]
        out = _publish(root, versions, body, commit_id, sidecar)
        out["updated_rows"] = n_rows
        return out
    finally:
        matched.unpersist()


def snapshot_table_changes(
    spark: SparkSession,
    root: str,
    from_version: int = 0,
    to_version: int | None = None,
) -> DataFrame:
    """Batch CHANGE DATA FEED (Delta's ``table_changes`` TVF): every row
    change in ``(from_version, to_version]`` as one DataFrame with
    ``_commit_version`` and ``_change_type`` (``insert`` / ``delete``)
    columns — the backfill twin of the streaming source's
    ``changeFeed=true``.

    Per version, from the manifest lineage alone (O(changed data), never
    O(table)): appended files emit inserts; merge-on-read tombstones emit
    the pre-image rows they remove (targeted files read under the
    PREVIOUS manifest, so rows older tombstones already removed are
    excluded); a COW MERGE emits delete pre-images + insert post-images
    restricted to its recorded keys (one key's pair nets to the
    post-image downstream); a COW range DELETE emits range-masked
    pre-images from its replaced files; verified compactions emit
    nothing. Rewrites with no row-delta story (overwrite/rollback) raise.

    Cross-version schema evolution: each version's rows are aligned under
    that version's manifest schema, then unioned by name with missing
    columns null-filled — exact for same-schema histories, documented
    best-effort across drops/renames.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    versions = snapshot_versions(root)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {root}")
    latest = to_version if to_version is not None else versions[-1]
    pieces: list[DataFrame] = []
    # ALTER RENAME lineage: rows of a pre-rename version surface in the
    # feed under the TO-version's names (old -> current, from the latest
    # manifest's column_history), so the union is exact across renames
    latest_hist = (
        _load_manifest(root, latest).get("column_history", {})
        if latest >= 1
        else {}
    )
    current_of = {
        old: cur for cur, chain in latest_hist.items() for old in chain
    }

    def emit(df: DataFrame, v: int, change: str) -> None:
        for old, cur in current_of.items():
            if old in df.columns and cur not in df.columns:
                df = df.withColumnRenamed(old, cur)
        pieces.append(
            df.withColumn("_commit_version", F.lit(v).cast("long"))
            .withColumn("_change_type", F.lit(change))
        )

    prev = _load_manifest(root, from_version) if from_version >= 1 else None
    for v in range(from_version + 1, latest + 1):
        cur = _load_manifest(root, v)
        # marker-level diff: O(commits this version touched), never
        # O(table) — same planner discipline as the streaming feed
        if prev is not None:
            added, removed = snapshot_files_diff(root, prev, cur)
        else:
            added, removed = sorted(cur["files"]), []
        if (
            cur.get("mode") == "overwrite"
            and cur.get("compaction_of") == v - 1
            and cur.get("parent") == v - 1
        ):
            prev = cur
            continue
        mi = cur.get("merge_info")
        if removed and cur.get("mode") == "merge" and mi and prev is not None:
            # key files are written distinct, and a left-semi probe dedups
            # anyway — no .distinct() here, it would shuffle the tiny side
            keys = spark.read.parquet(
                *[os.path.join(root, f) for f in mi["key_files"]]
            ).select(mi["key_col"])
            pre = _read_pinned(spark, root, prev, removed).join(
                F.broadcast(keys), mi["key_col"], "left_semi"
            )
            emit(pre, v, "delete")
            post = _read_pinned(spark, root, cur, added).join(
                F.broadcast(keys), mi["key_col"], "left_semi"
            )
            emit(post, v, "insert")
            prev = cur
            continue
        di = cur.get("delete_info")
        if removed and cur.get("mode") == "delete" and di and prev is not None:
            pre = _read_pinned(spark, root, prev, removed).where(
                F.col(di["col"]).between(di["lo"], di["hi"])
            )
            emit(pre, v, "delete")
            prev = cur
            continue
        if removed:
            raise ValueError(
                f"snapshot_table_changes: version {v} rewrote "
                f"{len(removed)} file(s) with no row-delta lineage; "
                "re-anchor from_version past it"
            )
        prev_tombs = (prev or {}).get("tombstones", [])
        cur_tomb_ids = {tuple(t["files"]) for t in cur.get("tombstones", [])}
        if any(tuple(t["files"]) not in cur_tomb_ids for t in prev_tombs):
            raise ValueError(
                f"snapshot_table_changes: version {v} removed tombstones "
                "without rewriting files (rollback/un-delete has no "
                "row-delta story); re-anchor from_version past it"
            )
        if added:
            emit(_read_pinned(spark, root, cur, added), v, "insert")
        prev_delete_files = {tuple(u["files"]) for u in prev_tombs}
        for t in cur.get("tombstones", []):
            if t in prev_tombs or tuple(t["files"]) in prev_delete_files:
                continue  # inherited (possibly narrowed) — not a new delete
            if prev is None:
                continue
            if t.get("kind") == "positional":
                addr = spark.read.parquet(
                    *[os.path.join(root, f) for f in t["files"]]
                )
                src_rows = _read_pinned(
                    spark, root, prev, t["applies"], with_position=True
                )
                pre = src_rows.join(
                    F.broadcast(addr),
                    on=(src_rows["__file"] == addr["file"])
                    & (src_rows["__pos"] == addr["pos"]),
                    how="left_semi",
                ).drop("__file", "__pos")
            else:
                keys = spark.read.parquet(
                    *[os.path.join(root, f) for f in t["files"]]
                ).select(t["key_col"])
                cids = set(t["commits"])
                targets = [
                    r for r in cur["files"] if _commit_of(r) in cids
                ]
                pre = _read_pinned(spark, root, prev, targets).join(
                    F.broadcast(keys), t["key_col"], "left_semi"
                )
            emit(pre, v, "delete")
        prev = cur
    if not pieces:
        schema = _load_manifest(root, latest)["schema"] if latest >= 1 else None
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        base = (
            StructType.fromJson(json.loads(schema)).fields if schema else []
        )
        from airflow_postgres_csv_spark.operators.localframe import (
            arrow_local_df,
        )

        return arrow_local_df(
            spark,
            [],
            StructType(
                list(base)
                + [
                    StructField("_commit_version", LongType(), False),
                    StructField("_change_type", StringType(), False),
                ]
            ),
        )
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), pieces
    )


_IVM_AGGS = ("count", "sum", "avg", "min", "max")
_IVM_KEY = "__gk"  # composite merge key column for multi-column groups


def _ivm_gk(keys: list[str]):
    """Deterministic composite merge key over the group columns —
    hex-encoded per part so no value can forge the separator, NULL
    distinct from every string. snapshot_merge is single-key; this keeps
    multi-column groups one zone-mappable upsert key."""
    from pyspark.sql import functions as F

    parts = [
        F.coalesce(F.hex(F.col(c).cast("string").cast("binary")), F.lit("N"))
        for c in keys
    ]
    return F.concat_ws("-", *parts)


def _ivm_keys(group_col: str | list[str]) -> list[str]:
    keys = [group_col] if isinstance(group_col, str) else list(group_col)
    if not keys:
        raise ValueError("group_col: at least one grouping column")
    return keys


def _ivm_flags(aggs) -> set:
    agg_set = set(aggs)
    bad = agg_set - set(_IVM_AGGS)
    if bad:
        raise ValueError(
            f"aggs: unsupported {sorted(bad)} (supported: {_IVM_AGGS})"
        )
    return agg_set


def _ivm_apply(
    spark: SparkSession,
    ch: DataFrame,
    dst_root: str,
    keys: list[str],
    amount_col: str,
    aggs,
    stamp: dict,
    live_rows,
) -> None:
    """Fold one signed change feed into the persisted per-group aggregate
    at ``dst_root`` in ONE commit carrying ``stamp`` — the shared apply
    step of :func:`snapshot_incremental_agg` (single-table IVM) and
    :func:`snapshot_incremental_join_agg` (two-table join IVM). ``ch``
    is any DataFrame of row changes with a ``_change_type`` column
    (``insert`` / ``delete``) plus the group + amount columns — where
    the changes came from (a table's change feed, a delta-join
    expansion) is the caller's business. ``live_rows(retracting_groups)``
    must return the CURRENT live rows restricted to those groups — the
    min/max displacement recompute reads it (see the maintenance notes
    on the public functions)."""
    from pyspark.sql import functions as F

    agg_set = _ivm_flags(aggs)
    need_total = bool(agg_set & {"sum", "avg"})
    need_nn = "avg" in agg_set
    need_mm = bool(agg_set & {"min", "max"})
    multi = len(keys) > 1
    if need_total:
        # the maintained total adds EXACT integers (cast to long per
        # delta); a float amount would truncate silently, diverging from
        # the recompute-equivalent SQL — same contract as fast_agg sums
        dt = dict(ch.dtypes).get(amount_col)
        if dt not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"amount_col {amount_col!r} is {dt or 'missing'}: sum/avg "
                "IVM adds exact integers only — store money as integer "
                "cents / a scaled long (min/max alone accept any type)"
            )
    dvs = snapshot_versions(dst_root)
    ins = F.col("_change_type") == "insert"
    sign = F.when(ins, F.lit(1)).otherwise(F.lit(-1))
    amt = F.col(amount_col)
    delta_aggs = [F.sum(sign).cast("long").alias("__n_d")]
    if need_total:
        delta_aggs.append(F.sum(sign * amt).cast("long").alias("__t_d"))
    if need_nn:
        delta_aggs.append(
            F.sum(sign * amt.isNotNull().cast("long"))
            .cast("long").alias("__nn_d")
        )
    if need_mm:
        delta_aggs += [
            F.min(F.when(ins, amt)).alias("__mn_i"),
            F.max(F.when(ins, amt)).alias("__mx_i"),
            F.max(F.when(~ins, F.lit(1)).otherwise(F.lit(0))).alias("__del"),
        ]
    delta = ch.groupBy(*keys).agg(*delta_aggs)

    cur = snapshot_read(spark, dst_root).drop(_IVM_KEY) if dvs else None
    if cur is None:
        joined = delta
        old = {
            "n": F.lit(0).cast("long"),
            "total": F.lit(0).cast("long"),
            "nn": F.lit(0).cast("long"),
            "mn": F.lit(None),
            "mx": F.lit(None),
        }
    else:
        joined = (
            cur.join(delta, keys, "full_outer")
            # only groups the delta touched
            .where(F.col("__n_d").isNotNull())
        )
        old = {
            "n": F.coalesce("n", F.lit(0)),
            "total": F.coalesce("total", F.lit(0)) if need_total else None,
            "nn": F.coalesce("nn", F.lit(0)) if need_nn else None,
            "mn": F.col("mn") if need_mm else None,
            "mx": F.col("mx") if need_mm else None,
        }
    out_cols = ([_ivm_gk(keys).alias(_IVM_KEY)] if multi else []) + [
        F.col(c) for c in keys
    ]
    out_cols.append((old["n"] + F.col("__n_d")).alias("n"))
    if need_total:
        out_cols.append(
            (old["total"] + F.coalesce("__t_d", F.lit(0))).alias("total")
        )
    if need_nn:
        out_cols.append(
            (old["nn"] + F.coalesce("__nn_d", F.lit(0))).alias("nn")
        )
    if need_mm:
        # insert-only merge first; delete-touched groups resolve below
        out_cols += [
            F.least(old["mn"], F.col("__mn_i")).alias("mn"),
            F.greatest(old["mx"], F.col("__mx_i")).alias("mx"),
            F.col("__del").alias("__del"),
        ]
    updated = joined.select(*out_cols)

    pinned = None
    if need_mm:
        # A delete can DISPLACE a stored extreme — signs can't undo
        # min/max. Recompute exactly the retracting groups from the
        # live rows the caller serves up: the join restricts the scan to
        # affected groups (AQE broadcast when few), never the whole table.
        pinned = updated.persist()
        has_del = bool(pinned.where(F.col("__del") == 1).limit(1).count())
        if has_del:
            retr = pinned.where(F.col("__del") == 1).select(*keys)
            rec = (
                live_rows(retr)
                .groupBy(*keys)
                .agg(
                    F.min(amt).alias("__mn_r"),
                    F.max(amt).alias("__mx_r"),
                )
            )
            updated = pinned.join(rec, keys, "left").select(
                *([_IVM_KEY] if multi else []),
                *keys,
                "n",
                *(["total"] if need_total else []),
                *(["nn"] if need_nn else []),
                F.when(F.col("__del") == 1, F.col("__mn_r"))
                .otherwise(F.col("mn")).alias("mn"),
                F.when(F.col("__del") == 1, F.col("__mx_r"))
                .otherwise(F.col("mx")).alias("mx"),
            )
        else:
            updated = pinned.drop("__del")
    try:
        if cur is None:
            snapshot_commit(updated, dst_root, extra=stamp)
        else:
            snapshot_merge(
                spark, dst_root, updated,
                key=_IVM_KEY if multi else keys[0], extra=stamp,
            )
    finally:
        if pinned is not None:
            pinned.unpersist()


def snapshot_incremental_agg(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    group_col: str | list[str],
    amount_col: str,
    up_to: int | None = None,
    aggs: tuple[str, ...] | list[str] = ("count", "sum"),
) -> dict:
    """Incremental view maintenance (IVM) WITH RETRACTIONS: keep a
    persisted per-group aggregate in sync with a source snapshot table
    across appends AND deletes/merges, reading only the changes.

    ``group_col`` may be one column or a list (multi-column group keys
    merge on a derived composite key). ``aggs`` picks the maintained
    aggregates from ``count / sum / avg / min / max``; the stored schema
    is ``n`` (live row count, always — it drives liveness), ``total``
    (when sum/avg), ``nn`` (non-null amount count, when avg — exact
    AVG = total / nn, never total / n which miscounts NULLs), and
    ``mn`` / ``mx`` (when min/max).

    Classic incremental rollups break at the first delete; this one
    consumes the batch change feed (``snapshot_table_changes``) and
    applies each change with a sign — insert +1, delete -1 — so the
    maintained aggregate equals a full GROUP BY over the source's live
    state at O(changed data) per refresh, never O(table). MIN/MAX are
    not sign-invertible (a retraction can displace the extreme), so
    groups whose batch contains ANY delete recompute their extremes from
    the source's live rows RESTRICTED to those groups — O(affected
    groups' data), never a full recompute; insert-only groups merge
    ``least/greatest`` against the stored extremes with no source read.
    This is the materialized-view maintenance discipline (delta
    processing with retractions, Flink/Materialize-style) on lakehouse
    commits.

    Exactly-once without idempotence tricks: the refresh is ONE commit
    (merge upsert of changed groups, seeded by a plain commit), and the
    ``ivm_applied_version`` high-water mark rides ``extra=`` inside that
    commit's atomic publish — a crash either applied the delta with its
    stamp or nothing. Increments are NOT idempotent, so the two-commit
    shape used elsewhere would double-count on replay; groups whose live
    count reaches zero are therefore kept as ``n = 0`` rows rather than
    deleted in a second commit (filter ``n > 0`` when reading).
    """
    keys = _ivm_keys(group_col)
    _ivm_flags(aggs)

    src_versions = snapshot_versions(src_root)
    if not src_versions:
        raise FileNotFoundError(f"no snapshot versions at {src_root}")
    src_latest = src_versions[-1]
    if up_to is not None:
        # catalog-pinned refresh: advance exactly to the pinned source
        # version, not past it (out-of-band commits beyond the pin fold
        # in at the NEXT pinned refresh)
        if up_to not in src_versions:
            raise ValueError(
                f"up_to={up_to} is not a retained source version"
            )
        src_latest = up_to
    applied = _max_stamp(dst_root, "ivm_applied_version", 0)
    if src_latest <= applied:
        return {"applied_through": applied, "refreshed": False}
    ch = snapshot_table_changes(spark, src_root, applied, src_latest)
    _ivm_apply(
        spark, ch, dst_root, keys, amount_col, aggs,
        {"ivm_applied_version": src_latest},
        lambda retr: snapshot_read(spark, src_root, version=src_latest)
        .join(retr, keys, "inner"),
    )
    return {"applied_through": src_latest, "refreshed": True}


def _ivm_restrict(big: DataFrame, delta: DataFrame, jk: list[str], cap: int):
    """Prune the UNCHANGED side of a delta join down to the join keys the
    delta actually touches. Few distinct single-column keys (<= cap)
    become an IN-list literal filter — parquet row-group statistics skip
    non-matching data at the scan, so the unchanged side costs O(matching
    row groups), not O(table). Many keys (or composite join keys) fall
    back to a left-semi join: one shuffle, still O(matching + delta) and
    never a full materialization of the big side. NULL join keys never
    match an inner join, so dropping them from the IN-list is exact."""
    from pyspark.sql import functions as F

    dk = delta.select(*jk).distinct()
    if len(jk) == 1:
        head = [r[0] for r in dk.limit(cap + 1).collect()]
        if len(head) <= cap:
            vals = [v for v in head if v is not None]
            if not vals:
                return big.where(F.lit(False))
            return big.where(F.col(jk[0]).isin(vals))
    return big.join(dk, jk, "left_semi")


def snapshot_incremental_join_agg(
    spark: SparkSession,
    a_root: str,
    b_root: str,
    dst_root: str,
    on: str | list[str] | dict,
    group_col: str | list[str],
    amount_col: str,
    up_to_a: int | None = None,
    up_to_b: int | None = None,
    aggs: tuple[str, ...] | list[str] = ("count", "sum"),
    key_pushdown_cap: int = 256,
) -> dict:
    """Incremental view maintenance for a TWO-TABLE inner equi-join
    aggregate: keep ``SELECT group, aggs(amount) FROM A JOIN B ON ...
    GROUP BY group`` in sync with BOTH source snapshot tables across
    appends and deletes, reading only the deltas plus the join-matching
    slices of the other side — never recomputing the join.

    The delta algebra (signed multiset semantics, the standard DBSP /
    Materialize decomposition): with applied state ``(A0, B0)`` and
    targets ``(A1, B1)``,

        ``ΔJ = ΔA ⋈ B1  +  A0 ⋈ ΔB``

    — exact because ``A1⋈B1 − A0⋈B0 = ΔA⋈B1 + A0⋈ΔB`` (the ΔA⋈ΔB
    cross-term belongs to the first factor once B1 absorbs ΔB). Each
    joined row keeps its delta row's sign (insert/delete), and the
    signed rows feed the same per-group apply step as single-table IVM
    (:func:`snapshot_incremental_agg`): count/sum/avg by signed sums,
    min/max with retraction-scoped recompute against the restricted
    CURRENT join. ``B1`` is read at the target version and ``A0`` at the
    PREVIOUSLY APPLIED version — time travel supplies the old state, no
    shadow copy; both are pruned to the delta's join keys first
    (:func:`_ivm_restrict`: IN-list pushdown under ``key_pushdown_cap``
    distinct keys, left-semi join beyond), so a refresh costs
    O(|ΔA| + |ΔB| + matching rows), not O(|A| + |B|).

    ``on`` is one shared column name, a list of shared names (USING
    semantics), or a ``{a_col: b_col}`` mapping (the B side is renamed
    to the A names before joining). Non-key column names must not
    collide across the two sources. Group and amount columns are
    POST-JOIN names (either side). Rows with NULL join keys never match
    — exactly the recompute's inner-join behavior.

    Exactly-once like the single-table path: ONE commit per refresh
    carries both ``ivm_applied_a`` / ``ivm_applied_b`` high-water stamps
    in its atomic publish. Reading ``A0`` requires the applied version
    to still be retained — expire the A side with enough history for
    the refresh cadence, or reseed into a fresh ``dst_root``.
    """
    keys = _ivm_keys(group_col)
    _ivm_flags(aggs)
    if isinstance(on, str):
        pairs = [(on, on)]
    elif isinstance(on, dict):
        pairs = list(on.items())
    else:
        pairs = [(c, c) for c in on]
    if not pairs:
        raise ValueError("on: at least one join key")
    jk = [a for a, _ in pairs]

    avs = snapshot_versions(a_root)
    bvs = snapshot_versions(b_root)
    if not avs or not bvs:
        raise FileNotFoundError(
            f"no snapshot versions at {a_root if not avs else b_root}"
        )
    a_v, b_v = avs[-1], bvs[-1]
    for up_to, vs, side in ((up_to_a, avs, "a"), (up_to_b, bvs, "b")):
        if up_to is not None and up_to not in vs:
            raise ValueError(
                f"up_to_{side}={up_to} is not a retained source version"
            )
    if up_to_a is not None:
        a_v = up_to_a
    if up_to_b is not None:
        b_v = up_to_b
    applied_a = _max_stamp(dst_root, "ivm_applied_a", 0)
    applied_b = _max_stamp(dst_root, "ivm_applied_b", 0)
    if a_v <= applied_a and b_v <= applied_b:
        # both targets at/behind the applied state: nothing to fold (an
        # out-of-band dst advance past a catalog pin surfaces at the
        # caller's stamp check, same as the single-table contract)
        return {
            "applied_through": {"a": applied_a, "b": applied_b},
            "refreshed": False,
        }
    if a_v < applied_a or b_v < applied_b:
        raise ValueError(
            f"target versions (a={a_v}, b={b_v}) regress one side of the "
            f"applied stamps (a={applied_a}, b={applied_b}) while "
            "advancing the other — IVM never rewinds"
        )

    def _b_named(df: DataFrame) -> DataFrame:
        for a_c, b_c in pairs:
            if a_c != b_c:
                df = df.withColumnRenamed(b_c, a_c)
        return df

    need = list(dict.fromkeys(keys + [amount_col, "_change_type"]))
    pieces: list[DataFrame] = []
    pinned: list[DataFrame] = []
    try:
        if a_v > applied_a:
            d_a = snapshot_table_changes(
                spark, a_root, applied_a, a_v
            ).drop("_commit_version").persist()
            pinned.append(d_a)
            b1 = _ivm_restrict(
                _b_named(snapshot_read(spark, b_root, version=b_v)),
                d_a, jk, key_pushdown_cap,
            )
            _check_overlap(d_a, b1, jk)
            pieces.append(d_a.join(b1, jk, "inner").select(*need))
        if b_v > applied_b:
            d_b = _b_named(
                snapshot_table_changes(spark, b_root, applied_b, b_v)
                .drop("_commit_version")
            ).persist()
            pinned.append(d_b)
            if applied_a > 0:
                a0 = _ivm_restrict(
                    snapshot_read(spark, a_root, version=applied_a),
                    d_b, jk, key_pushdown_cap,
                )
                _check_overlap(a0, d_b, jk)
                pieces.append(a0.join(d_b, jk, "inner").select(*need))
        # at least one side advanced (the no-op case returned above), and
        # a B-only advance implies a prior refresh stamped applied_a >= 1,
        # so `pieces` is never empty here
        ch = pieces[0]
        for p in pieces[1:]:
            ch = ch.unionByName(p)

        def _live(retr: DataFrame) -> DataFrame:
            a1 = snapshot_read(spark, a_root, version=a_v)
            b1f = _b_named(snapshot_read(spark, b_root, version=b_v))
            # restrict whichever side carries ALL the group columns
            # before the join; the final inner join is exact regardless.
            # Group keys SPANNING both sides leave only the post-join
            # restriction — a delete batch then recomputes extremes over
            # the full join (documented cost of cross-side grouping with
            # min/max; single-side group keys stay delta-sized).
            if set(keys) <= set(a1.columns):
                a1 = a1.join(retr, keys, "left_semi")
            elif set(keys) <= set(b1f.columns):
                b1f = b1f.join(retr, keys, "left_semi")
            return a1.join(b1f, jk, "inner").join(retr, keys, "inner")

        _ivm_apply(
            spark, ch, dst_root, keys, amount_col, aggs,
            {"ivm_applied_a": a_v, "ivm_applied_b": b_v}, _live,
        )
    finally:
        for df in pinned:
            df.unpersist()
    return {"applied_through": {"a": a_v, "b": b_v}, "refreshed": True}


def _check_overlap(left: DataFrame, right: DataFrame, jk: list[str]) -> None:
    """Join-IVM hygiene: non-key columns shared by both sides would make
    post-join references ambiguous — refuse up front with the offending
    names instead of surfacing Spark's analysis error mid-plan."""
    shared = (
        (set(left.columns) & set(right.columns))
        - set(jk) - {"_change_type"}
    )
    if shared:
        raise ValueError(
            f"join sources share non-key columns {sorted(shared)}; "
            "rename them apart (the join keys may repeat, nothing else)"
        )


def _upsert_evolving(spark: SparkSession, dst_root: str, rows: DataFrame, key_col: str) -> dict:
    """Upsert replayed CDC rows into the downstream table, evolving its
    schema when the source evolved (a merge_schema merge upstream makes
    the post-image rows wider than the replica): schema-identical rows
    take the plain ``snapshot_merge`` fast path; drifted rows go through
    ``snapshot_merge_into(merge_schema=True)`` with every non-key column
    replaced — the same replace-matched-rows semantics, plus the add/widen
    evolution the read path already supports."""
    dvs = snapshot_versions(dst_root)
    if _load_manifest(dst_root, dvs[-1])["schema"] == _schema_json(rows):
        return snapshot_merge(spark, dst_root, rows, key=key_col)
    return snapshot_merge_into(
        spark, dst_root, rows, key=key_col,
        matched_update={c: f"s.{c}" for c in rows.columns if c != key_col},
        merge_schema=True,
    )


def snapshot_apply_changes(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    key_col: str,
    from_version: int | None = None,
) -> dict:
    """CDC replay: apply a source snapshot table's commit history (appends
    AND merge-on-read deletes) to a keyed downstream table — the batch
    ``APPLY CHANGES INTO`` primitive that completes the change-feed story
    past the streaming source's append-only/``ignoreDeletes`` contract.

    For each source version after the high-water mark, in version order:

    - appended data files → ``snapshot_merge`` upsert into ``dst_root``
      (first batch seeds the table via ``snapshot_commit``);
    - new equality tombstones (``snapshot_delete_mor``) → the delete-key
      file is re-read and republished as a dst tombstone commit (O(keys)
      bytes moved, nothing scanned);
    - new positional tombstones (``snapshot_delete_positional``) → the
      addressed (file, row_index) rows are resolved to their ``key_col``
      values against the source version and deleted by key in dst.

    Rewrites replay too, by their stamped lineage: a verified COMPACTION
    (``compaction_of`` + parent check) is skipped — same logical rows; a
    COW MERGE upserts its post-image rows (rewritten files restricted to
    the recorded merge keys, O(rewritten data)); a COW range DELETE
    resolves its pre-image rows to keys against the previous version
    (replaced files only) and deletes by key.

    Requirements and failure modes: ``key_col`` must uniquely identify
    rows in the source (standard CDC contract — positional deletes on
    duplicate keys cannot be expressed as key deletes downstream), and a
    source version that rewrote files WITHOUT a row-delta story (a plain
    overwrite, a rollback, a stale compaction stamp) raises; re-anchor
    with ``from_version`` past it or reconcile via
    ``operators.merge.table_diff``.

    Exactly-once across reruns: the high-water mark
    (``cdc_applied_version``) is stamped into the dst manifest by a final
    metadata-only commit and inherited by later commits, so a finished
    range is never replayed; a crash MID-replay restarts the whole range,
    which converges because every step is idempotent (re-upserting the
    same rows and re-deleting the same keys are no-ops). Cost is
    O(changed data) per version — never O(table) on either side.
    """
    from pyspark.sql import functions as F

    src_versions = snapshot_versions(src_root)
    if not src_versions:
        raise FileNotFoundError(f"no snapshot versions at {src_root}")
    latest = src_versions[-1]
    if from_version is not None:
        applied = from_version
    else:
        applied = _max_stamp(dst_root, "cdc_applied_version", 0)
    appends = deletes = 0
    prev = _load_manifest(src_root, applied) if applied >= 1 else None
    for v in range(applied + 1, latest + 1):
        cur = _load_manifest(src_root, v)
        if prev is not None:
            added, removed = snapshot_files_diff(src_root, prev, cur)
        else:
            added, removed = sorted(cur["files"]), []
        if (
            cur.get("mode") == "overwrite"
            and cur.get("compaction_of") == v - 1
            and cur.get("parent") == v - 1
        ):
            # verified compaction: same logical rows, nothing to replay
            prev = cur
            continue
        mi = cur.get("merge_info")
        if removed and cur.get("mode") == "merge" and mi and prev is not None:
            # COW MERGE: upsert the POST-IMAGE rows downstream — read only
            # the rewritten files, restricted to the recorded merge keys
            # (carried-over rows are not changes). O(rewritten candidates),
            # the merge's own cost. Skipping the tombstone loop below is
            # deliberate: the merge only NARROWS inherited tombstones, and
            # re-publishing one downstream after this upsert would delete
            # a key the merge just re-inserted.
            if mi["key_col"] != key_col:
                raise ValueError(
                    "snapshot_apply_changes: source merge keyed by "
                    f"{mi['key_col']!r}, dst keyed by {key_col!r}"
                )
            keys = spark.read.parquet(
                *[os.path.join(src_root, f) for f in mi["key_files"]]
            ).select(key_col).distinct()
            rows = _read_pinned(spark, src_root, cur, added).join(
                F.broadcast(keys), key_col, "left_semi"
            )
            if snapshot_versions(dst_root):
                _upsert_evolving(spark, dst_root, rows, key_col)
            else:
                snapshot_commit(rows, dst_root)
            appends += 1
            # a MERGE INTO with a WHEN MATCHED DELETE clause records the
            # deleted keys in its key files but they have NO post-image:
            # propagate them as a downstream equality delete (plain
            # upsert merges have none — the probe is O(merge keys))
            del_keys = keys.join(
                rows.select(key_col), key_col, "left_anti"
            ).localCheckpoint(eager=True)
            if snapshot_versions(dst_root) and not del_keys.isEmpty():
                _publish_key_tombstone(
                    dst_root, del_keys, key_col,
                    f"cdc merge-delete replay of src v{v}",
                )
                deletes += 1
            prev = cur
            continue
        di = cur.get("delete_info")
        if removed and cur.get("mode") == "delete" and di and prev is not None:
            # COW range DELETE: resolve the deleted rows to key values by
            # reading only the REPLACED files under the PREVIOUS manifest
            # (its tombstones applied, so already-deleted rows are not
            # re-deleted downstream), then delete by key.
            pre = _read_pinned(spark, src_root, prev, removed)
            keys = (
                pre.where(F.col(di["col"]).between(di["lo"], di["hi"]))
                .select(key_col)
                .distinct()
            )
            if snapshot_versions(dst_root):
                _publish_key_tombstone(
                    dst_root, keys, key_col,
                    f"cdc cow-delete {di['col']} in [{di['lo']}, {di['hi']}]",
                )
                deletes += 1
            prev = cur
            continue
        if removed:
            raise ValueError(
                f"snapshot_apply_changes: source version {v} rewrote "
                f"{len(removed)} file(s); re-anchor from_version past the "
                "rewrite or reconcile via table_diff"
            )
        _cur_tomb_ids = {tuple(t["files"]) for t in cur.get("tombstones", [])}
        if any(
            tuple(t["files"]) not in _cur_tomb_ids
            for t in (prev or {}).get("tombstones", [])
        ):
            raise ValueError(
                f"snapshot_apply_changes: source version {v} removed "
                "tombstones without rewriting files (rollback/un-delete); "
                "re-anchor from_version past it or reconcile via table_diff"
            )
        # NEW tombstones replay BEFORE the appended files: a mixed commit
        # (snapshot_update_where — delete vector + post-images in one
        # version) retracts pre-image keys and re-inserts their post-
        # images under the SAME keys, so upserting first would let the
        # tombstone replay wrongly delete the rows it just wrote. The
        # tombstone binds to files of EARLIER commits only (never the
        # version's own additions), so delete-then-upsert reproduces the
        # source's final state for every commit shape — including an
        # UPDATE that rewrites the key column itself.
        prev_tombs = (prev or {}).get("tombstones", [])
        for t in cur.get("tombstones", []):
            if t in prev_tombs:
                continue
            if not snapshot_versions(dst_root):
                continue  # nothing downstream to delete from yet
            if t.get("kind") == "positional":
                addr = spark.read.parquet(
                    *[os.path.join(src_root, f) for f in t["files"]]
                )
                src_rows = _read_pinned(
                    spark, src_root, cur, t["applies"],
                    apply_tombstones=False, with_position=True,
                )
                keys = (
                    src_rows.join(
                        F.broadcast(addr),
                        on=(src_rows["__file"] == addr["file"])
                        & (src_rows["__pos"] == addr["pos"]),
                        how="left_semi",
                    )
                    .select(key_col)
                    .distinct()
                )
            else:
                if t["key_col"] != key_col:
                    raise ValueError(
                        "snapshot_apply_changes: source tombstone keyed by "
                        f"{t['key_col']!r}, dst keyed by {key_col!r}"
                    )
                keys = spark.read.parquet(
                    *[os.path.join(src_root, f) for f in t["files"]]
                ).select(key_col).distinct()
            _publish_key_tombstone(
                dst_root, keys, key_col, t.get("predicate", "<cdc replay>")
            )
            deletes += 1
        if added:
            rows = _read_pinned(spark, src_root, cur, added)
            if snapshot_versions(dst_root):
                _upsert_evolving(spark, dst_root, rows, key_col)
            else:
                snapshot_commit(rows, dst_root)
            appends += 1
        prev = cur
    dvs = snapshot_versions(dst_root)
    if dvs and latest > applied:
        dm = _load_manifest(dst_root, dvs[-1])
        commit_id = uuid.uuid4().hex[:12]
        body = _inherit_maps(dm, dm["files"])
        if dm.get("bloom"):
            body["bloom"] = dm["bloom"]
        body.update(
            mode="cdc-stamp", commit_id=commit_id,
            files=list(dm["files"]), n_files=dm["n_files"],
            schema=dm["schema"], cdc_applied_version=latest,
        )
        _publish(dst_root, dvs, body, commit_id, None)
    return {
        "applied_through": latest,
        "append_batches": appends,
        "delete_batches": deletes,
    }
