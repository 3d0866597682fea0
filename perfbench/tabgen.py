"""Seeded generator for the relational test tables the tabular queries read.

Same schemas, row counts and value distributions as the relational testdata
of FIXTURES.md section 2 (the seed-42 tables the correctness gate reads): the
TPC-H-ish star schema, an `events` stream, a `documents` corpus with planted
" dup" near-duplicates and an `embeddings` table of isotropic unit vectors
with labels independent of the vectors. README.md lists the figures measured
on the sf0.01 and sf0.1 testdata that these generators reproduce. Every table
is a pure function of (seed, scale), so the benchmark can build them inside
its own checkout.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_ADJ = ("blue", "hot", "large", "new", "old", "red", "small", "green")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_DOC_LANGS = ("en", "de", "es", "fr", "zh")
_DOC_LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

_DAY_NS = 86_400 * 10**9


def _ts(base: str, ns: np.ndarray) -> pd.Series:
    # microsecond precision, like the FIXTURES.md tables (Spark reads no ns)
    return pd.Series(np.datetime64(base, "us") + (ns // 1000).astype("timedelta64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, scale: float) -> dict[str, pd.DataFrame]:
    """All tables for one seed, with the testdata row counts at scale 0.01
    and 0.1 (documents and embeddings have a floor of 500 rows)."""
    rng = np.random.default_rng([seed, 7])
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_ev = max(200, int(1_000_000 * scale))
    n_users = max(2, int(15_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))

    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(_REGIONS)}
    )
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", order_days * _DAY_NS),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        # independent of the quantity in the testdata (correlation ~0)
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": rng.choice(("A", "N", "R"), n_line),
        "l_linestatus": rng.choice(("F", "O"), n_line),
        # independent of the order's date: uniform over days 1..2499
        "l_shipdate": _ts("1995-01-01", rng.integers(1, 2500, n_line) * _DAY_NS),
    })
    ev_ns = np.sort(rng.integers(0, 30 * _DAY_NS, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", ev_ns // 1000 * 1000),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Texts of 10..99 random vocabulary words; then exactly n/20 of them,
    one after another, become another document's text plus " dup" (so a
    source may be later, or itself already a duplicate)."""
    texts = [" ".join(rng.choice(_VOCAB, int(k))) for k in rng.integers(10, 100, n)]
    for i in rng.choice(n, n // 20, replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_DOC_LANGS, n, p=_DOC_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dims: int = 64) -> pd.DataFrame:
    """Isotropic unit vectors; the 10 labels carry no signal (in the testdata
    a label's mean vector has the norm of noise alone, and a vector's nearest
    neighbour shares its label at chance rate)."""
    x = rng.standard_normal((n, dims))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(x.astype(np.float32)),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    """Write every table as <out_dir>/<name>.parquet, then a _SUCCESS marker."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in make_tables(seed, scale).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.cast(table.schema.set(
                1, pa.field("embedding", pa.list_(pa.float32()))
            ))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(os.path.join(out_dir, "_SUCCESS"), "w"):
        pass
