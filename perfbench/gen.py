"""Seeded input generator: a TPC-H-shaped star schema plus the documents
and embeddings corpora, written as one parquet file per table.

The same (seed, profile) always yields byte-identical table contents. The
schema matches the fixture tables the engine's query registry is written
against, so the registered queries and their DuckDB oracle twins run on
the generated directory unchanged.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query order "
    "filter group big stream vector index plan shuffle cache disk node "
    "task stage"
).split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


@dataclass(frozen=True)
class Profile:
    customers: int
    suppliers: int
    parts: int
    orders: int
    documents: int
    embeddings: int
    dim: int = 64
    labels: int = 10


PROFILES = {
    # the measured profile
    "bench": Profile(
        customers=3000, suppliers=200, parts=4000, orders=30000,
        documents=2000, embeddings=1000,
    ),
    # the self-test profile: every code path, seconds per iteration
    "tiny": Profile(
        customers=150, suppliers=10, parts=200, orders=1500,
        documents=200, embeddings=200,
    ),
}


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _ts(rng: np.random.Generator, n: int) -> pa.Array:
    days = rng.integers(0, 365 * 7, n)
    us = (np.datetime64("1992-01-01", "us") + days.astype("timedelta64[D]")).astype("int64")
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tpch(rng: np.random.Generator, p: Profile, out: str) -> None:
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(p.customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(p.customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, p.customers), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, p.customers),
        "c_mktsegment": rng.choice(SEGMENTS, p.customers).tolist(),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(p.suppliers), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(p.suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, p.suppliers), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, p.suppliers),
    })
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(p.parts), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(WORDS, p.parts), rng.choice(WORDS, p.parts))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 6, p.parts)],
        "p_type": rng.choice(("ECONOMY", "STANDARD", "PROMO", "LARGE"), p.parts).tolist(),
        "p_size": pa.array(rng.integers(1, 51, p.parts), pa.int32()),
        "p_retailprice": _money(rng, 900, 2100, p.parts),
    })
    # two thirds of the customers place orders, as in TPC-H
    buyers = rng.choice(p.customers, size=p.customers * 2 // 3, replace=False)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(p.orders), pa.int64()),
        "o_custkey": pa.array(rng.choice(buyers, p.orders), pa.int64()),
        "o_orderstatus": rng.choice(("F", "O", "P"), p.orders).tolist(),
        "o_totalprice": _money(rng, 800, 500000, p.orders),
        "o_orderdate": _ts(rng, p.orders),
        "o_orderpriority": rng.choice(PRIORITIES, p.orders).tolist(),
    })
    lines = rng.integers(1, 8, p.orders)
    n = int(lines.sum())
    okey = np.repeat(np.arange(p.orders), lines)
    lnum = np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p.parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, p.suppliers, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(float),
        "l_extendedprice": _money(rng, 900, 100000, n),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
        "l_returnflag": rng.choice(("A", "N", "R"), n).tolist(),
        "l_linestatus": rng.choice(("F", "O"), n).tolist(),
        "l_shipdate": _ts(rng, n),
    })


def _documents(rng: np.random.Generator, p: Profile, out: str) -> None:
    """Random-word documents; a fifth are near-copies of an earlier one
    (a few words substituted) and a few are case-changed exact copies, so
    every dedup operator has true pairs to find."""
    texts: list[list[str]] = []
    for i in range(p.documents):
        r = rng.random()
        if i > 10 and r < 0.2:
            words = list(texts[int(rng.integers(0, i))])
            for _ in range(int(rng.integers(1, 6))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        elif i > 10 and r < 0.25:
            words = [w.upper() if rng.random() < 0.3 else w
                     for w in texts[int(rng.integers(0, i))]]
        else:
            words = rng.choice(WORDS, int(rng.integers(12, 80))).tolist()
        texts.append(words)
    text = [" ".join(w) for w in texts]
    _write(out, "documents", {
        "doc_id": pa.array(rng.permutation(p.documents), pa.int64()),
        "text": text,
        "lang": rng.choice(LANGS, p.documents).tolist(),
        "source": [f"src{i}" for i in rng.integers(0, 20, p.documents)],
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, p: Profile, out: str) -> None:
    """Unit vectors clustered around one centre per label. ids are a
    seeded permutation, so an id-range filter picks a seeded query set."""
    centres = rng.normal(size=(p.labels, p.dim))
    label = rng.integers(0, p.labels, p.embeddings)
    v = centres[label] + 0.8 * rng.normal(size=(p.embeddings, p.dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(rng.permutation(p.embeddings), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def generate(out_dir: str, seed: int, profile: str = "bench") -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts per table."""
    p = PROFILES[profile]
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    _tpch(rng, p, out_dir)
    _documents(rng, p, out_dir)
    _embeddings(rng, p, out_dir)
    return {
        f.removesuffix(".parquet"): pq.read_metadata(os.path.join(out_dir, f)).num_rows
        for f in sorted(os.listdir(out_dir))
    }
