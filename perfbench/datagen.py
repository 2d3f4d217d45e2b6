"""Seeded input generators for the benchmark.

Every input a workload feeds the program comes from here: the clustered
vector corpus, query vectors, upsert batches and the TPC-H-ish star schema
plus the ``documents`` corpus that the pipeline queries read. The same seed
always yields the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The tables the pipeline queries and the SQL requests read, at two sizes.
# Row counts follow the TPC-H-ish fixtures the package's oracles were written
# against (lineitem ~4 rows per order, 5 % near-duplicate documents).
SCALES = {
    "sf0.01": {"customer": 1500, "supplier": 100, "part": 2000,
               "orders": 15000, "lineitem": 60000, "documents": 500},
    "sf0.001": {"customer": 150, "supplier": 10, "part": 200,
                "orders": 1500, "lineitem": 6000, "documents": 200},
}
TABLE_SEED = 42          # the pipeline's tables are fixed, not per-run
SPREAD = 0.6             # cluster radius of the generated vectors

_WORDS = ("a the spark window merge table column vector stream value data "
          "small join filter big group hash customer sort order slow line "
          "part fast row agg key query scan batch").split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])


def unit_rows(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=-1, keepdims=True)
    return m / np.where(n == 0, 1.0, n)


def clustered_vectors(rng: np.random.Generator, n: int, dim: int,
                      centers: np.ndarray, spread: float = SPREAD) -> np.ndarray:
    """``n`` unit float32 vectors scattered around unit ``centers``; the
    noise has norm about ``spread`` whatever the dimension."""
    pick = rng.integers(0, len(centers), n)
    v = centers[pick] + spread / np.sqrt(dim) * rng.standard_normal((n, dim))
    return unit_rows(v).astype(np.float32)


def vector_table(ids: np.ndarray, vecs: np.ndarray, label: np.ndarray,
                 grp: np.ndarray, ver: np.ndarray | None = None) -> pa.Table:
    """Arrow table in the lake table's schema (``ver``: the writing round)."""
    cols = {"id": pa.array(ids, pa.int64()),
            "label": pa.array(label, pa.int32()),
            "grp": pa.array(grp, pa.int32())}
    if ver is not None:
        cols["ver"] = pa.array(ver, pa.int64())
    dim = vecs.shape[1]
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, len(ids) * dim + 1, dim, dtype=np.int32))
    cols["embedding"] = pa.ListArray.from_arrays(offsets, flat)
    return pa.table(cols)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(_WORDS)
    texts = []
    for _ in range(n):
        texts.append(" ".join(words[rng.integers(0, len(words),
                                                 rng.integers(10, 101))]))
    # 5 % near-duplicates: a copy of an earlier document plus one word
    for i in rng.choice(np.arange(1, n), size=max(1, n // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    lang = rng.choice(_LANGS, size=n, p=_LANG_P)
    source = np.array([f"src{i % 20}" for i in range(n)])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array(source),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _dates(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    days = rng.integers(a, b, n)
    return pa.array(days * 86_400_000, pa.timestamp("ms"))


def star_tables(scale: str) -> dict[str, pa.Table]:
    """TPC-H-ish star schema plus ``documents`` at ``scale``."""
    size = SCALES[scale]
    rng = np.random.default_rng([TABLE_SEED, 2])
    nc, ns, np_, no, nl = (size["customer"], size["supplier"], size["part"],
                           size["orders"], size["lineitem"])
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, ns)})
    adj = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
    noun = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD",
                              "MEDIUM", "PROMO"], np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": money(1000, 500000, no),
        "o_orderdate": _dates(rng, no, "1995-01-01", "2001-08-02"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(900, 105000, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": rng.choice(["N", "R", "A"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _dates(rng, nl, "1995-01-01", "2001-12-31")})
    t["documents"] = _documents(rng, size["documents"])
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One parquet file per table, named as the package's readers expect."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
