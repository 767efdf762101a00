"""Seeded synthetic tables in the layout the engine reads.

One parquet file per table under ``<out>/<name>.parquet`` with the
column names, types and value distributions of the engine's
scale-factor directories (TPC-H-style star schema, the ``events``
action log, the ``documents`` corpus and ``embeddings``). Row counts
scale with ``sf`` the same way: 1.5M orders and 1M events per unit.
The same ``(seed, sf)`` always yields byte-identical tables.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "red", "shiny", "small", "tiny"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in us
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01 in us
_TS = pa.timestamp("us")


def table_sizes(sf: float) -> dict[str, int]:
    n = lambda base: max(1, int(round(base * sf)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": max(500, n(50_000)),
        "embeddings": max(500, n(20_000)),
    }


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _dates(rng: np.random.Generator, first_day: int, days: int, n: int) -> pa.Array:
    d = rng.integers(first_day, first_day + days, n, dtype=np.int64)
    return pa.array(_EPOCH_1995 + d * _DAY_US, type=_TS)


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    size = table_sizes(sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    nc = size["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": _names("Customer", nc),
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )

    ns = size["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": _names("Supplier", ns),
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, ns),
        }
    )

    npart = size["part"]
    keys = np.arange(npart, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": np.char.add(
                np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, npart)], " "),
                np.array(PART_NOUN)[rng.integers(0, 8, npart)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
        }
    )

    no = size["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _cents(rng, 1000.0, 500000.0, no),
            "o_orderdate": _dates(rng, 0, 2404, no),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )

    nl = size["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
            "l_partkey": rng.integers(0, npart, nl, dtype=np.int64),
            "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _dates(rng, 1, 2499, nl),
        }
    )

    ne = size["events"]
    n_users = max(10, size["customer"] // 10)
    ts = np.sort(rng.integers(0, 30 * _DAY_US, ne, dtype=np.int64)) + _EPOCH_2024
    out["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(ts, type=_TS),
            "user_id": rng.integers(0, n_users, ne, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        }
    )

    nd = size["documents"]
    texts: list[str] = []
    lengths = rng.integers(10, 101, nd)
    dup_src = rng.random(nd) < 0.05
    for i in range(nd):
        if dup_src[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), lengths[i])]))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    nv = size["embeddings"]
    labels = rng.integers(0, N_LABELS, nv)
    centers = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    vecs = centers[labels] * 0.35 + rng.normal(0.0, 1.0, (nv, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.astype(np.float32).ravel()), EMBED_DIM
            ).cast(pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def generate(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write every table for ``(seed, sf)`` to ``out_dir``; returns row counts."""
    tables = build_tables(seed, sf)
    write_tables(tables, out_dir)
    return {name: t.num_rows for name, t in tables.items()}
