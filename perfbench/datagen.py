"""Seeded fixture tables for the benchmark.

Writes the ten tables the engine's catalog knows (``catalog.TABLES``) as one
parquet file each, with the same column names and physical types as the
engine's test fixtures: a TPC-H-shaped star schema, an ``events`` stream,
a ``documents`` text corpus with injected near-duplicates, and a clustered
``embeddings`` corpus. Every value comes from ``numpy.random.default_rng``
seeded with the benchmark seed, so one seed always gives byte-identical
inputs. Money-like doubles carry exactly two decimals, as the registry's
oracle queries assume.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts: the engine fixtures' sf0.01 shape, a tenth of sf0.1, so that a
# run's deck fits the run budget. At this size about 90% of a CSV export or
# import is its fixed per-operation cost (measured in NOTES.md), not CSV work.
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 600,
    "embeddings": 2000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value window"
).split()
EMBED_DIM = 64
EMBED_CLUSTERS = 10

DAY_MS = 86_400_000
EPOCH_1995_MS = 788_918_400_000  # 1995-01-01T00:00:00Z


def _money(rng: np.random.Generator, lo_cents: int, hi_cents: int, n: int) -> np.ndarray:
    return rng.integers(lo_cents, hi_cents, n) / 100.0


def _days(rng: np.random.Generator, lo_day: int, hi_day: int, n: int) -> pa.Array:
    ms = EPOCH_1995_MS + rng.integers(lo_day, hi_day, n).astype("int64") * DAY_MS
    return pa.array(ms * 1000, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word sequences; a fifth of the docs copy an earlier doc with a
    few words replaced, so both near-dup operators find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.2:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            toks = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(8, 90)))]
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def unit_vectors(rng: np.random.Generator, centers: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` float32 unit vectors scattered around random ``centers``."""
    labels = rng.integers(0, len(centers), n)
    v = centers[labels] + 0.15 * rng.standard_normal((n, centers.shape[1]))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels


def embedding_centers(seed: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 7])
    c = rng.standard_normal((EMBED_CLUSTERS, EMBED_DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every fixture table under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = SIZES
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -99_999, 1_000_000, nc),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -99_999, 1_000_000, ns),
        }
    )
    npt = n["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npt), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npt), rng.integers(0, 7, npt))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, npt)],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, npt)],
            "p_size": pa.array(rng.integers(1, 51, npt), pa.int32()),
            "p_retailprice": 900.0 + np.arange(npt) % 1000 / 10.0,
        }
    )
    no = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 100_191, 50_000_000, no),
            "o_orderdate": _days(rng, 0, 2404, no),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npt, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 90_068, 10_000_000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, 1, 2499, nl),
        }
    )
    ne = n["events"]
    ts_us = 1_704_067_200_000_000 + np.sort(rng.integers(0, 30 * DAY_MS * 1000, ne))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, nc, ne), pa.int64()),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, ne)],
            "value": _money(rng, 0, 10_000, ne),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, ne)],
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    vecs, labels = unit_vectors(rng, embedding_centers(seed), n["embeddings"])
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(len(vecs)), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
