"""Seeded generator for the benchmark's input tables.

Writes the ten tables the program reads (``sources.tables.TABLES``) as one
parquet file each, with the column names, types and value distributions of
the repository's test fixtures: a TPC-H-like star schema, an ``events``
stream, a ``documents`` corpus with 5% near-duplicates and unit-norm
64-dimensional ``embeddings``. The same ``(sf, seed)`` always gives
byte-identical values, so a run's inputs depend only on its seed.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "blue", "hot", "cold", "large", "new", "old"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_ORDER_EPOCH = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = 2404  # last order date 2001-08-01
_SHIP_EPOCH = np.datetime64("1995-01-02", "us")
_SHIP_DAYS = 2498  # last ship date 2001-11-04
_EVENT_EPOCH = np.datetime64("2024-01-01", "us")
_EVENT_SPAN_US = 30 * 86_400 * 1_000_000
_DAY_US = 86_400 * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, epoch: np.datetime64, days: int, n: int) -> np.ndarray:
    return epoch + rng.integers(0, days + 1, n) * np.timedelta64(_DAY_US, "us")


def make_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """Build every table for scale factor ``sf`` (0.01 -> 60,000 lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, round(150_000 * sf))
    n_supp = max(5, round(10_000 * sf))
    n_part = max(10, round(200_000 * sf))
    n_orders = max(10, round(1_500_000 * sf))
    n_line = 4 * n_orders
    n_events = max(10, round(1_000_000 * sf))
    n_users = max(5, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_vecs = 500 if sf <= 0.01 else max(500, round(20_000 * sf))

    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
    )
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = pd.DataFrame(
        {"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk], "n_regionkey": nk % 5}
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
            "o_orderdate": _days(rng, _ORDER_EPOCH, _ORDER_DAYS, n_orders),
            "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_orders, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, _SHIP_EPOCH, _SHIP_DAYS, n_line),
        }
    )
    ts = np.sort(rng.integers(0, _EVENT_SPAN_US, n_events))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _EVENT_EPOCH + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n_events),
            "value": np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    lengths = rng.integers(10, 100, n_docs)
    texts = [" ".join(rng.choice(_WORDS, n)) for n in lengths]
    # every 20th document repeats an earlier one plus a marker word, so the
    # near-duplicate detectors have true positives to find
    for i in range(19, n_docs, 20):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write ``make_tables(sf, seed)`` to ``out_dir/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in make_tables(sf, seed).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", pa.array(df["embedding"].tolist(), pa.list_(pa.float32()))
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
