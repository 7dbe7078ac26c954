"""Generated benchmark inputs.

The benchmark reads nothing outside its checkout, so it writes its own
fixture tables: the ten tables of the engine's test fixtures (FIXTURES.md
schemas, value ranges measured on the sf0.01 fixture), scaled by ``sf``.
Catalog tables use a fixed seed so query results, oracle answers and the
construction-time job counts stay the same for every run seed; the run
seed picks what varies per run (query order, batch split, firehose
records and sidelined tenants).
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Seed of the fixture tables (the engine's own fixtures use 42 too).
FIXTURE_SEED = 42

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join order group filter query big "
    "small vector customer stream"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
_PART_NOUN = ["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]


def _us(y: int, m: int, d: int) -> int:
    return int(datetime(y, m, d, tzinfo=timezone.utc).timestamp() * 1_000_000)


def _days(rng: np.random.Generator, n: int, lo: tuple, hi: tuple) -> pa.Array:
    a, b = _us(*lo) // 86_400_000_000, _us(*hi) // 86_400_000_000
    return pa.array(rng.integers(a, b + 1, n) * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Random texts over the 31-token vocab; ~5% near-duplicates (an
    earlier text plus ``dup``) and a few exact copies, as in the engine
    fixtures."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.053:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([_LANGS[j] for j in rng.integers(0, len(_LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def table_columns(name: str, sf: float, rng: np.random.Generator) -> dict:
    """Columns of one fixture table at scale ``sf`` (sf0.01: 60k lineitem)."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    if name == "region":
        return {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(_REGIONS)}
    if name == "nation":
        return {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    if name == "customer":
        return {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), f64),
            "c_mktsegment": pa.array([_SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]),
        }
    if name == "supplier":
        return {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), f64),
        }
    if name == "part":
        return {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array([
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
            "p_type": pa.array([_PART_TYPES[j] for j in rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array([900.0 + (i % 1000) / 10 for i in range(n_part)], f64),
        }
    if name == "orders":
        return {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pa.array([("O", "P", "F")[j] for j in rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500_000.0), f64),
            "o_orderdate": _days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
            "o_orderpriority": pa.array([_PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]),
        }
    if name == "lineitem":
        return {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
            "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 105_000.0), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
            "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array([("O", "F")[j] for j in rng.integers(0, 2, n_li)]),
            "l_shipdate": _days(rng, n_li, (1995, 1, 2), (2001, 11, 4)),
        }
    if name == "events":
        t0 = _us(2024, 1, 1)
        ts = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, n_ev))
        return {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 10), n_ev), i64),
            "event_type": pa.array([_EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
            "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)]),
        }
    if name == "documents":
        return _documents(rng, int(50_000 * sf))
    if name == "embeddings":
        return _embeddings(rng, max(int(50_000 * sf), 200))
    raise ValueError(f"unknown fixture table: {name}")


def write_tables(out_dir: str, sf: float) -> str:
    """Write every fixture table as ``<out_dir>/<name>.parquet``, each
    from its own seeded stream."""
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(TABLES):
        rng = np.random.default_rng([FIXTURE_SEED, i])
        cols = table_columns(name, sf, rng)
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()
