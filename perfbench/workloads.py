"""The benchmark's workloads: seeded operation streams plus output checks.

A workload sets up its inputs, then hands out *decks*: one pass over its
operation types in a fixed order, with inputs (SQL parameters, CSV options,
row batches, conditions, versions to read, document subsets, query vectors)
drawn from a ``random.Random`` seeded with the run's seed. The run measures
whole decks, so every run executes the same sequence of operation types and
the seed changes only the inputs. Each operation calls the engine's public
functions through ``Tracer.layer`` and keeps what the checks need; ``check``
then compares every kept result with DuckDB (or an exact numpy/Python
reference) after the timed phase.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import re

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import datagen, oracle


class Op:
    """One operation: ``run(ctx)`` is timed; ``rows`` and ``result`` are
    filled in by ``run`` (or by the checks, for rows only they can count)."""

    def __init__(self, kind: str, run, **params):
        self.kind = kind
        self._run = run
        self.params = params
        self.rows = 0
        self.latency = 0.0
        self.result = None
        self.failure: str | None = None

    def run(self, ctx) -> None:
        self._run(ctx, self)


class Workload:
    name = ""
    # snapshot table root, and the end-of-run figures of the traced run;
    # workloads without a snapshot table or ANN index keep these
    root: str | None = None
    row_bytes = 0.0
    space_amp = 0.0
    recall_at_k: float | None = None

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.seed = seed

    def inputs(self, ctx) -> None:
        """Build what the run needs once: indexes and exact references."""

    def setup(self, ctx, attempt: int) -> None:
        """Register the workload's views or build its tables; the run calls
        it several times (``attempt`` 0, 1, ...), each into fresh
        directories, and keeps the last."""
        raise NotImplementedError

    def deck(self) -> list[Op]:
        """One pass over the operation types, in a fixed order. Operation
        types share warm-up (code generation, Python workers), so a seeded
        order would move cost between types from seed to seed."""
        raise NotImplementedError

    def check(self, ctx, done: list[Op]) -> list[str]:
        """Compare outputs; mark failing ops; return run-level failures."""
        raise NotImplementedError

    def trace_summary(self, ctx) -> None:
        """Measure end-of-run state for the per-layer metrics (traced runs)."""


def _ts(day: int) -> dt.datetime:
    return dt.datetime(1995, 1, 1) + dt.timedelta(days=day)


def _duck_literal(v) -> str:
    if isinstance(v, dt.datetime):
        return f"TIMESTAMP '{v:%Y-%m-%d %H:%M:%S}'"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _bind(sql: str, params: dict) -> str:
    """Substitute ``:name`` markers with DuckDB literals (longest first)."""
    for k in sorted(params, key=len, reverse=True):
        sql = sql.replace(f":{k}", _duck_literal(params[k]))
    return sql


# ---------------------------------------------------------------------------
# etl_sql_llm: the stateless surfaces. The reference's CSV export/import,
# the delegated SQL surface (registry relational queries) and the
# LLM-curation operators (MinHash/SimHash near-dup pairs, IVF-PQ search).
# Read-only against the fixtures: no snapshot metadata.
# ---------------------------------------------------------------------------

EXPORTS = {
    "join": (
        "SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice, c.c_name, c.c_mktsegment "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "WHERE o.o_totalprice BETWEEN :lo AND :hi AND c.c_mktsegment = :seg",
        "o_orderkey BIGINT, o_orderdate TIMESTAMP, o_totalprice DOUBLE, c_name STRING, c_mktsegment STRING",
    ),
    "filter": (
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_shipdate, l_returnflag "
        "FROM lineitem WHERE l_shipdate >= :d0 AND l_shipdate < :d1 AND l_discount <= :disc",
        "l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
        "l_discount DOUBLE, l_shipdate TIMESTAMP, l_returnflag STRING",
    ),
    "agg": (
        "SELECT n.n_name, c.c_mktsegment, count(*) AS n_orders, "
        "CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "WHERE o.o_orderdate >= :d0 GROUP BY n.n_name, c.c_mktsegment",
        "n_name STRING, c_mktsegment STRING, n_orders BIGINT, revenue DOUBLE",
    ),
}

ANN_K = 10
ANN_QUERIES = 64
QUERY_ID_BASE = 10_000_000  # query vector ids, disjoint from the corpus ids
# Floors of the missing-result checks. MinHash here uses 8 hashes in 4 bands
# of 2: a pair of Jaccard j becomes a candidate with probability
# 1 - (1 - j^2)^4, 0.68 at j = 0.5 and above 0.9999 at j = 0.95.
MINHASH_SURE_JACCARD = 0.95  # every exact pair at or above this must be found
MINHASH_RECALL_FLOOR = 0.6  # share of the exact pairs with Jaccard >= 0.5
ANN_RECALL_FLOOR = 0.5  # recall@10 of one search batch against exact top-10


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _simhash(text: str) -> int:
    sums = [0] * 64
    for tok in text.split(" "):
        h = hashlib.md5(tok.encode()).hexdigest()
        for b in range(64):
            sums[b] += 1 if (int(h[b // 4], 16) >> (b % 4)) & 1 else -1
    return sum(1 << b for b in range(64) if sums[b] > 0)


class EtlSqlLlm(Workload):
    name = "etl_sql_llm"
    # scan/aggregate, 3-way join, 6-way join, window top-k, grouping sets
    QUERIES = (
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "window_topk_per_group",
        "agg_cube",
    )

    def inputs(self, ctx) -> None:
        from airflow_postgres_csv_spark.catalog import load
        from airflow_postgres_csv_spark.operators import similarity
        from airflow_postgres_csv_spark.queries import registry

        self.index_root = os.path.join(ctx.run_dir, "indexes", "embeddings_ivfpq")
        emb = load(ctx.spark, ctx.data_dir, "embeddings")
        ctx.tracer.layer("operators.similarity.build", similarity.ivfpq_build_index, emb, self.index_root)
        reg = registry()
        self.queries = {q: reg[q] for q in self.QUERIES}
        self.docs = pd.read_parquet(os.path.join(ctx.data_dir, "documents.parquet"))
        corpus = pd.read_parquet(os.path.join(ctx.data_dir, "embeddings.parquet"))
        self.corpus_ids = corpus["vec_id"].to_numpy()
        self.corpus_pos = {int(v): i for i, v in enumerate(self.corpus_ids)}
        self.corpus = np.stack(corpus["embedding"].to_numpy()).astype(np.float64)
        self.centers = datagen.embedding_centers(self.seed)
        self.recalls: list[float] = []

    def setup(self, ctx, attempt: int) -> None:
        from airflow_postgres_csv_spark.catalog import register_views

        # the exports' SQL names the fixture tables as views
        ctx.tracer.layer("catalog.register_views", register_views, ctx.spark, ctx.data_dir)
        self.csv_dir = os.path.join(ctx.run_dir, f"csv-{attempt}")
        os.makedirs(self.csv_dir)
        self.n_export = 0
        # table name -> DuckDB SQL of each import since the last truncate
        self.table_rows: dict[str, list[str]] = {}

    @property
    def recall_at_k(self) -> float:
        return float(np.mean(self.recalls)) if self.recalls else 0.0

    def deck(self) -> list[Op]:
        q = [Op("sql_query", self._query, name=name) for name in self.QUERIES]
        # export units (export, read back, load) between queries
        return [
            *self._export_unit("join"), self._dedup_op("minhash"), q[0],
            self._dedup_op("simhash"), q[1], self._ann_op(),
            *self._export_unit("filter"), q[2], q[3],
            *self._export_unit("agg"), q[4],
        ]

    # -- CSV export / import ------------------------------------------------
    def _export_params(self, kind: str) -> dict:
        r = self.rng
        if kind == "join":
            lo = r.randrange(100_000, 30_000_000) / 100
            return {"lo": lo, "hi": lo + r.randrange(5_000_000, 20_000_000) / 100,
                    "seg": r.choice(datagen.SEGMENTS)}
        if kind == "filter":
            d0 = r.randrange(0, 2200)
            return {"d0": _ts(d0), "d1": _ts(d0 + r.randrange(60, 400)), "disc": r.randrange(2, 11) / 100}
        return {"d0": _ts(r.randrange(0, 2300))}

    def _export_unit(self, kind: str) -> list[Op]:
        r = self.rng
        self.n_export += 1
        gzip = r.random() < 0.5
        single = r.random() < 0.5
        ext = ".csv.gz" if gzip else ".csv"
        path = os.path.join(self.csv_dir, f"{self.n_export:04d}-{kind}" + (ext if single else ""))
        opts = {
            "has_header": r.random() < 0.5,
            "delimiter": r.choice([",", "|", ";", "\t"]),
        }
        export = Op("query_to_csv", self._export, query=kind, path=path,
                    params=self._export_params(kind), gzip=gzip, single=single, **opts)
        use_columns = r.random() < 0.5
        read = Op("read_csv", self._read, export=export, columns=use_columns, **opts)
        load = Op("csv_to_table", self._load, export=export, table=f"imported_{kind}",
                  truncate=r.random() < 0.5, columns=use_columns, **opts)
        return [export, read, load]

    def _export(self, ctx, op: Op) -> None:
        from airflow_postgres_csv_spark.operators import etl

        p = op.params
        _, n = ctx.tracer.layer(
            "operators.etl.query_to_csv", etl.query_to_csv, ctx.spark, EXPORTS[p["query"]][0],
            p["path"], parameters=p["params"], has_header=p["has_header"],
            compression="gzip" if p["gzip"] else None, single_file=p["single"],
            delimiter=p["delimiter"],
        )
        op.rows = op.result = n

    def _read_args(self, op: Op) -> tuple[str, dict]:
        ex = op.params["export"]
        schema = EXPORTS[ex.params["query"]][1]
        kw = {"schema": schema, "has_header": op.params["has_header"], "delimiter": op.params["delimiter"]}
        if op.params["columns"]:
            kw["columns"] = [c.split()[0] for c in schema.split(", ")]
        return ex.params["path"], kw

    def _read(self, ctx, op: Op) -> None:
        from airflow_postgres_csv_spark.operators import etl

        path, kw = self._read_args(op)
        pdf = ctx.tracer.layer("operators.etl.read_csv", lambda: etl.read_csv(ctx.spark, path, **kw).toPandas())
        op.rows = len(pdf)
        op.result = oracle.frame_digest(pdf)

    def _load(self, ctx, op: Op) -> None:
        from airflow_postgres_csv_spark.operators import etl

        path, kw = self._read_args(op)
        n = ctx.tracer.layer(
            "operators.etl.csv_to_table", etl.csv_to_table, ctx.spark, path,
            op.params["table"], truncate=op.params["truncate"], **kw,
        )
        op.rows = op.result = n
        ex = op.params["export"]
        sql = _bind(EXPORTS[ex.params["query"]][0], ex.params["params"])
        prior = [] if op.params["truncate"] else self.table_rows.get(op.params["table"], [])
        self.table_rows[op.params["table"]] = prior + [sql]

    # -- registry SQL -------------------------------------------------------
    def _query(self, ctx, op: Op) -> None:
        rq = self.queries[op.params["name"]]
        df = ctx.tracer.layer("queries.build", rq.fn, ctx.spark, ctx.data_dir)
        pdf = ctx.tracer.layer("queries.action", df.toPandas)
        op.result = oracle.frame_digest(pdf)
        # rows read: every row of each fixture table the query names
        op.rows = sum(n for t, n in ctx.table_rows.items() if re.search(rf"\b{t}\b", rq.oracle))

    # -- LLM curation -------------------------------------------------------
    def _dedup_op(self, kind: str) -> Op:
        """60% of the documents: a multiplier prime to 10 permutes the
        residues, so every seed keeps the same share."""
        a = 10 * self.rng.randrange(10) + self.rng.choice((1, 3, 7, 9))
        return Op(kind, self._dedup, where=f"(doc_id * {a} + {self.rng.randrange(10)}) % 10 < 6")

    def _ann_op(self) -> Op:
        rng = np.random.default_rng([self.seed, self.rng.randrange(2**31)])
        vecs, _ = datagen.unit_vectors(rng, self.centers, ANN_QUERIES)
        return Op("ann_search", self._ann, vecs=vecs)

    def _dedup(self, ctx, op: Op) -> None:
        from airflow_postgres_csv_spark.catalog import load
        from airflow_postgres_csv_spark.operators import dedup

        docs = load(ctx.spark, ctx.data_dir, "documents").where(op.params["where"])
        pairs = dedup.minhash_near_dup_pairs if op.kind == "minhash" else dedup.simhash_near_dup_pairs
        rows = ctx.tracer.layer(f"operators.dedup.{op.kind}", lambda: pairs(docs).collect())
        op.result = [tuple(r) for r in rows]

    def _ann(self, ctx, op: Op) -> None:
        from airflow_postgres_csv_spark.operators import similarity

        vecs = op.params["vecs"]
        q = pd.DataFrame({"vec_id": np.arange(QUERY_ID_BASE, QUERY_ID_BASE + len(vecs)), "embedding": list(vecs)})
        qdf = ctx.spark.createDataFrame(q, "vec_id BIGINT, embedding ARRAY<FLOAT>")
        rows = ctx.tracer.layer(
            "operators.similarity.search",
            lambda: similarity.ivfpq_search_index(ctx.spark, self.index_root, qdf, k=ANN_K).collect(),
        )
        op.result = [tuple(r) for r in rows]
        op.rows = len(vecs)

    # -- checks -------------------------------------------------------------
    def check(self, ctx, done: list[Op]) -> list[str]:
        con = ctx.duck
        expect: dict[str, tuple] = {}
        for op in done:
            if op.kind == "sql_query":
                q = op.params["name"]
                if q not in expect:
                    expect[q] = oracle.duck_digest(con, self.queries[q].oracle)
                if op.result != expect[q]:
                    op.failure = f"sql_query {q} digest {op.result} != DuckDB {expect[q]}"
            elif op.kind == "query_to_csv":
                sql = _bind(EXPORTS[op.params["query"]][0], op.params["params"])
                want = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
                if op.result != want:
                    op.failure = f"exported {op.result} rows, DuckDB has {want}"
            elif op.kind == "read_csv":
                ex = op.params["export"]
                want = oracle.duck_digest(con, _bind(EXPORTS[ex.params["query"]][0], ex.params["params"]))
                if op.result != want:
                    op.failure = f"read_csv digest {op.result} != DuckDB {want}"
            elif op.kind == "csv_to_table":  # row count; table contents are checked below
                ex = op.params["export"]
                if op.result != ex.result:
                    op.failure = f"imported {op.result} rows of a {ex.result}-row export"
            elif op.kind in ("minhash", "simhash"):
                self._check_dedup(con, op)
            elif op.kind == "ann_search":
                self._check_ann(op)
        failures = []
        for table, sqls in self.table_rows.items():
            got = oracle.frame_digest(ctx.spark.table(table).toPandas())
            want = oracle.duck_digest(con, " UNION ALL ".join(f"({s})" for s in sqls))
            if got != want:
                failures.append(f"table {table}: {got} != DuckDB replay {want}")
        return failures

    def _check_dedup(self, con, op: Op) -> None:
        ids = [int(r[0]) for r in con.execute(
            f"SELECT doc_id FROM documents WHERE {op.params['where']} ORDER BY doc_id").fetchall()]
        op.rows = len(ids)
        text = dict(zip(self.docs["doc_id"].astype(int), self.docs["text"]))
        got = {(int(a), int(b)): v for a, b, v in op.result}
        if op.kind == "minhash":
            sh = {i: _shingles(text[i]) for i in ids}
            exact = {}
            for ia, a in enumerate(ids):
                for b in ids[ia + 1:]:
                    common = len(sh[a] & sh[b])
                    jac = common / (len(sh[a]) + len(sh[b]) - common)
                    if jac >= 0.5:
                        exact[(a, b)] = jac
            wrong = [(p, j) for p, j in got.items() if exact.get(p) != j]
            missed = [p for p, j in exact.items() if j >= MINHASH_SURE_JACCARD and p not in got]
            recall = len(exact.keys() & got.keys()) / len(exact) if exact else 1.0
            op.params["recall"] = recall
            if wrong:
                op.failure = f"minhash pair {wrong[0][0]} jaccard {wrong[0][1]} != exact {exact.get(wrong[0][0])}"
            elif missed:
                op.failure = f"minhash missed {len(missed)} pairs with Jaccard >= {MINHASH_SURE_JACCARD}, e.g. {missed[0]}"
            elif recall < MINHASH_RECALL_FLOOR:
                op.failure = f"minhash recall {recall:.3f} of {len(exact)} exact pairs < {MINHASH_RECALL_FLOOR}"
        else:
            sig = {i: _simhash(text[i]) for i in ids}
            want = {
                (a, b): bin(sig[a] ^ sig[b]).count("1")
                for ia, a in enumerate(ids) for b in ids[ia + 1:]
                if bin(sig[a] ^ sig[b]).count("1") <= 3
            }
            if got != want:
                op.failure = f"simhash pairs differ from exact Hamming: {len(got.items() ^ want.items())} mismatches"

    def _check_ann(self, op: Op) -> None:
        vecs = op.params["vecs"].astype(np.float64)
        sims = (vecs @ self.corpus.T) / np.outer(np.linalg.norm(vecs, axis=1), np.linalg.norm(self.corpus, axis=1))
        got: dict[int, list] = {}
        for qid, nid, cos, _rank in op.result:
            got.setdefault(int(qid) - QUERY_ID_BASE, []).append((int(nid), float(cos)))
        hits = 0
        for qi in range(len(vecs)):
            exact = set(self.corpus_ids[np.argsort(-sims[qi], kind="stable")[:ANN_K]].tolist())
            for nid, cos in got.get(qi, []):
                want = sims[qi][self.corpus_pos[nid]]
                if abs(cos - want) > 1e-6:
                    op.failure = f"ann neighbor {nid} cosine {cos} != exact {want}"
                hits += nid in exact
        recall = hits / (ANN_K * len(vecs))
        self.recalls.append(recall)
        if op.failure is None and recall < ANN_RECALL_FLOOR:
            op.failure = f"ann recall@{ANN_K} {recall:.3f} < {ANN_RECALL_FLOOR}"


# ---------------------------------------------------------------------------
# snapshot_dml: snapshot-table writes beside reads (time travel, range scans,
# SQL over registered snapshot views). Metadata-heavy small operations:
# Python-side planning and py4j dominate.
# ---------------------------------------------------------------------------

ORDERS_SCHEMA = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, "
    "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
)
WRITE_KINDS = ("commit", "merge", "delete_mor", "update_where", "sql_exec", "compact")


class SnapshotDml(Workload):
    name = "snapshot_dml"
    TABLE = "snap"
    # Eight writes and eight reads per deck. Between two compactions a file
    # takes at most one positional tombstone (update_where, sql_exec), and
    # the equality tombstone (delete_mor) comes after it: the SQL read path
    # gets every other order wrong (known defect 1 in NOTES.md), and a read
    # may pick any earlier version. The first SQL read follows the MOR
    # update and delete, so the versions it reads carry both kinds.
    # Latest-version reads, warm commits and the second compaction take
    # 0.15-0.4 s and the other operations 0.5-2 s; with one latest read per
    # deck the cheap ones stay well under half of a run, so the median falls
    # inside the upper group and not in the gap between the two.
    DECK = (
        "read_latest", "commit", "update_where", "read_version", "delete_mor", "sql_read",
        "scan", "compact", "read_version", "sql_exec", "scan", "merge",
        "sql_read", "commit", "read_version", "compact",
    )

    def inputs(self, ctx) -> None:
        orders = pq.read_table(os.path.join(ctx.data_dir, "orders.parquet"))
        self.row_bytes = orders.nbytes / orders.num_rows

    def setup(self, ctx, attempt: int) -> None:
        from airflow_postgres_csv_spark.catalog import load
        from airflow_postgres_csv_spark.operators import snapshots

        self.root = os.path.join(ctx.run_dir, "tables", f"orders_snap-{attempt}")
        orders = load(ctx.spark, ctx.data_dir, "orders")
        ctx.tracer.layer("operators.snapshots.commit", snapshots.snapshot_commit, orders, self.root, mode="overwrite")
        self.versions = [snapshots.snapshot_versions(self.root)[-1]]
        # write log replayed in DuckDB by the checks: (version, DuckDB statements, op)
        self.log: list[tuple[int, list[str], Op | None]] = [(self.versions[0], [], None)]
        self.next_key = datagen.SIZES["orders"]

    def trace_summary(self, ctx) -> None:
        from airflow_postgres_csv_spark.operators.snapshots import snapshot_read

        pinned = snapshot_read(ctx.spark, self.root).inputFiles()
        total = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.root) for f in fs)
        live = sum(os.path.getsize(f.removeprefix("file:")) for f in pinned)
        self.space_amp = total / live if live else 0.0

    def deck(self) -> list[Op]:
        return [self._make(k) for k in self.DECK]

    # -- inputs -------------------------------------------------------------
    def _rows(self, keys: list[int]) -> pd.DataFrame:
        r = self.rng
        return pd.DataFrame(
            {
                "o_orderkey": keys,
                "o_custkey": [r.randrange(datagen.SIZES["customer"]) for _ in keys],
                "o_orderstatus": [r.choice("FOP") for _ in keys],
                "o_totalprice": [r.randrange(100_191, 50_000_000) / 100 for _ in keys],
                "o_orderdate": [_ts(r.randrange(0, 2404)) for _ in keys],
                "o_orderpriority": [r.choice(datagen.PRIORITIES) for _ in keys],
            }
        )

    def _fresh_keys(self, n: int) -> list[int]:
        keys = list(range(self.next_key, self.next_key + n))
        self.next_key += n
        return keys

    def _mod_cond(self) -> str:
        """A condition matching a fixed share (1/250) of the keys."""
        return f"o_orderkey % 250 = {self.rng.randrange(0, 250)}"

    def _pick_version(self) -> int:
        back = min(int(self.rng.expovariate(0.5)), len(self.versions) - 1)
        return self.versions[-1 - back]

    def _make(self, kind: str) -> Op:
        r = self.rng
        if kind == "commit":
            return Op(kind, self._commit, batch=self._rows(self._fresh_keys(200)))
        if kind == "merge":
            old = [r.randrange(self.next_key) for _ in range(70)]
            batch = self._rows(sorted(set(old)) + self._fresh_keys(30))
            return Op(kind, self._merge, batch=batch)
        if kind == "delete_mor":
            return Op(kind, self._delete, cond=self._mod_cond())
        if kind == "update_where":
            return Op(kind, self._update, cond=self._mod_cond(), delta=r.randrange(1, 500) / 100)
        if kind == "sql_exec":
            if r.random() < 0.5:
                stmt = f"UPDATE {self.TABLE} SET o_orderstatus = '{r.choice('FOP')}' WHERE {self._mod_cond()}"
            else:
                stmt = f"DELETE FROM {self.TABLE} WHERE {self._mod_cond()} AND o_orderstatus = 'P'"
            return Op(kind, self._sql_exec, stmt=stmt)
        if kind == "compact":
            return Op(kind, self._compact)
        if kind == "read_latest":
            return Op(kind, self._read, version=None)
        if kind == "read_version":
            return Op(kind, self._read, version="pick")
        if kind == "scan":
            lo = r.randrange(0, datagen.SIZES["orders"] - 2000)
            return Op(kind, self._scan, lo=lo, hi=lo + 2000)
        assert kind == "sql_read", kind
        return Op(kind, self._sql_read, version="pick", where=f"o_orderkey % 4 = {r.randrange(4)}")

    # -- writes -------------------------------------------------------------
    def _committed(self, op: Op, stmts: list[str]) -> None:
        from airflow_postgres_csv_spark.operators.snapshots import snapshot_versions

        v = snapshot_versions(self.root)[-1]
        self.versions.append(v)
        self.log.append((v, stmts, op))
        op.result = v

    def _values_sql(self, batch: pd.DataFrame) -> str:
        rows = [
            "(" + ", ".join(_duck_literal(v) for v in (
                int(t.o_orderkey), int(t.o_custkey), t.o_orderstatus, float(t.o_totalprice),
                t.o_orderdate.to_pydatetime(), t.o_orderpriority)) + ")"
            for t in batch.itertuples(index=False)
        ]
        return "VALUES " + ", ".join(rows)

    def _commit(self, ctx, op: Op) -> None:
        from airflow_postgres_csv_spark.operators.snapshots import snapshot_commit

        df = ctx.spark.createDataFrame(op.params["batch"], ORDERS_SCHEMA)
        ctx.tracer.layer("operators.snapshots.commit", snapshot_commit, df, self.root)
        self._committed(op, [f"INSERT INTO {self.TABLE} {self._values_sql(op.params['batch'])}"])

    def _merge(self, ctx, op: Op) -> None:
        from airflow_postgres_csv_spark.operators.snapshots import snapshot_merge

        batch = op.params["batch"]
        df = ctx.spark.createDataFrame(batch, ORDERS_SCHEMA)
        ctx.tracer.layer("operators.snapshots.merge", snapshot_merge, ctx.spark, self.root, df, "o_orderkey")
        keys = ", ".join(str(int(k)) for k in batch["o_orderkey"])
        self._committed(op, [f"DELETE FROM {self.TABLE} WHERE o_orderkey IN ({keys})",
                             f"INSERT INTO {self.TABLE} {self._values_sql(batch)}"])

    def _delete(self, ctx, op: Op) -> None:
        from airflow_postgres_csv_spark.operators.snapshots import snapshot_delete_mor

        ctx.tracer.layer("operators.snapshots.delete_mor", snapshot_delete_mor, ctx.spark, self.root,
                         op.params["cond"], "o_orderkey")
        self._committed(op, [f"DELETE FROM {self.TABLE} WHERE {op.params['cond']}"])

    def _update(self, ctx, op: Op) -> None:
        from airflow_postgres_csv_spark.operators.snapshots import snapshot_update_where

        expr = f"o_totalprice + {op.params['delta']}"
        ctx.tracer.layer("operators.snapshots.update_where", snapshot_update_where, ctx.spark, self.root,
                         op.params["cond"], {"o_totalprice": expr})
        self._committed(op, [f"UPDATE {self.TABLE} SET o_totalprice = {expr} WHERE {op.params['cond']}"])

    def _sql_exec(self, ctx, op: Op) -> None:
        from airflow_postgres_csv_spark.operators.sql_dml import snapshot_sql_exec

        ctx.tracer.layer("operators.sql_dml.exec", snapshot_sql_exec, ctx.spark, op.params["stmt"],
                         tables={self.TABLE: self.root})
        self._committed(op, [op.params["stmt"]])

    def _compact(self, ctx, op: Op) -> None:
        from airflow_postgres_csv_spark.operators.snapshots import snapshot_compact

        ctx.tracer.layer("operators.snapshots.compact", snapshot_compact, ctx.spark, self.root)
        self._committed(op, [])

    # -- reads --------------------------------------------------------------
    def _resolve(self, op: Op) -> int:
        v = op.params["version"]
        v = self.versions[-1] if v is None else self._pick_version() if v == "pick" else v
        op.params["version"] = v
        return v

    def _read(self, ctx, op: Op) -> None:
        from airflow_postgres_csv_spark.operators.snapshots import snapshot_read

        v = self._resolve(op)
        op.result = ctx.tracer.layer(
            "operators.snapshots.read",
            lambda: oracle.spark_fingerprint(snapshot_read(ctx.spark, self.root, version=v)),
        )
        op.rows = op.result[0]

    def _scan(self, ctx, op: Op) -> None:
        from airflow_postgres_csv_spark.operators.snapshots import snapshot_scan

        op.params["version"] = self.versions[-1]
        p = op.params
        op.result = ctx.tracer.layer(
            "operators.snapshots.scan",
            lambda: oracle.spark_fingerprint(
                snapshot_scan(ctx.spark, self.root, "o_orderkey", p["lo"], p["hi"], version=p["version"])
            ),
        )
        op.rows = op.result[0]

    def _sql_read(self, ctx, op: Op) -> None:
        from airflow_postgres_csv_spark.sources.snapshot_batch import snapshot_sql_register

        v = self._resolve(op)
        ctx.tracer.layer("sources.snapshot_batch.register", snapshot_sql_register, ctx.spark, "snap_view",
                         self.root, version=v)
        sql = f"SELECT * FROM snap_view WHERE {op.params['where']}"
        op.result = ctx.tracer.layer("sources.snapshot_batch.sql", lambda: oracle.spark_fingerprint(ctx.spark.sql(sql)))
        op.rows = op.result[0]

    # -- checks -------------------------------------------------------------
    def check(self, ctx, done: list[Op]) -> list[str]:
        con = ctx.duck
        con.execute(f"CREATE TABLE {self.TABLE} AS SELECT * FROM orders")
        made: set[int] = set()
        for v, stmts, op in self.log:
            counts = [con.execute(s).fetchone()[0] for s in stmts]
            if op is not None:
                # a merge replays as DELETE + INSERT; its upserted rows are the INSERT's
                op.rows = counts[-1] if counts else 0
            if v in made:
                # a write that matches no row commits no new version
                if any(counts):
                    op.failure = f"{op.kind} changed {counts} rows in DuckDB but committed no version"
                continue
            made.add(v)
            con.execute(f"CREATE TABLE v{v} AS SELECT * FROM {self.TABLE}")
        failures = []
        for op in done:
            if op.kind in WRITE_KINDS:
                if op.kind == "compact":
                    op.rows = con.execute(f"SELECT count(*) FROM v{op.result}").fetchone()[0]
            else:
                v = op.params["version"]
                where = ""
                if op.kind == "scan":
                    where = f" WHERE o_orderkey BETWEEN {op.params['lo']} AND {op.params['hi']}"
                elif op.kind == "sql_read":
                    where = f" WHERE {op.params['where']}"
                want = tuple(int(x or 0) for x in con.execute(
                    f"SELECT {oracle.FINGERPRINT_SQL} FROM v{v}{where}").fetchone())
                if op.result != want:
                    op.failure = f"{op.kind} v{v}: {op.result} != DuckDB {want}"
        if done:
            from airflow_postgres_csv_spark.operators.snapshots import snapshot_read

            latest = self.versions[-1]
            cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
            got = oracle.frame_digest(snapshot_read(ctx.spark, self.root).selectExpr(*cols.split(", ")).toPandas())
            want = oracle.duck_digest(con, f"SELECT {cols} FROM v{latest}")
            if got != want:
                failures.append(f"final table v{latest}: {got} != DuckDB replay {want}")
        return failures


WORKLOADS = {w.name: w for w in (EtlSqlLlm, SnapshotDml)}
