"""Seeded synthetic tables with the engine's standard schema.

The benchmark generates its own inputs instead of reading a fixture
tree outside the checkout. The tables have the names, column types and
value domains of the engine's test data (a TPC-H-shaped star schema
plus ``events``, ``documents`` and ``embeddings``), so every registry
query's literals (``NATION_7``, ``Brand#12``, the 1995-2001 date
window, ...) select comparable fractions of rows. Row counts scale
with ``sf`` like the test data (6M lineitem rows per unit of ``sf``),
except ``documents`` and ``embeddings``: 500 rows each below sf0.1.

Every column is drawn independently from one ``numpy`` generator, so a
(seed, sf) pair always yields byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with two decimals."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _ids(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array((base + offsets_us.astype("timedelta64[us]")).astype("datetime64[us]"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; 5% are an earlier document plus ' dup', the
    near-duplicates the MinHash/LSH and curation pipelines look for."""
    lengths = rng.integers(10, 101, n)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    for i in rng.choice(n, n // 20, replace=False):
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors scattered around one weak centre per label."""
    centres = rng.normal(0.0, 0.018, (N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    vecs = centres[labels] + rng.normal(0.0, 0.125, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    offsets = np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)
    emb = pa.ListArray.from_arrays(pa.array(offsets), pa.array(vecs.ravel()))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(labels),
        }
    )


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All standard tables at scale ``sf``, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = max(int(6_000_000 * sf), 400)
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 5)
    n_docs = 5_000 if sf >= 0.1 else 500
    n_vecs = 2_000 if sf >= 0.1 else 500
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": _ids("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": _ids("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, n_part) / 10.0, 2)),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _ts(_EPOCH_1995, rng.integers(0, 2404, n_ord) * _DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    disc = rng.integers(0, 11, n_line) / 100.0
    tax = rng.integers(0, 9, n_line) / 100.0
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
            "l_discount": pa.array(np.round(disc, 2)),
            "l_tax": pa.array(np.round(tax, 2)),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts(_EPOCH_1995, rng.integers(1, 2500, n_line) * _DAY_US),
        }
    )
    ev_offsets = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts(_EPOCH_2024, ev_offsets),
            "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vecs)
    return out


def write(out_dir: str, sf: float, seed: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet`` (one file each)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
