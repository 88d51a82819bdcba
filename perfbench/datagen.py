"""Seeded generator for the ten fixture tables the engine reads.

Writes ``<out_dir>/<table>.parquet`` (one file, one row group, snappy)
with the schemas listed in FIXTURES.md and the same shapes as the
fixture tables, which are not in the repository: uniform independent columns,
TPC-H-like key domains, a 30-word document vocabulary with 5% ``dup``
near-copies and a few exact copies, and unit-norm 64-d embeddings.
Row counts scale with ``sf`` exactly as the fixtures do (lineitem =
6M x sf). The same (sf, seed) always writes byte-identical values.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMBEDDING_DIM = 64


def _days(start: dt.date, n_days: int, size: int, rng) -> pa.Array:
    base = (start - dt.date(1970, 1, 1)).days
    days = base + rng.integers(0, n_days, size)
    return pa.array((days * 86_400_000_000).astype("int64"), pa.timestamp("us"))


def _money(lo: float, hi: float, size: int, rng) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _tables(sf: float, rng) -> dict[str, pa.Table]:
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_user = int(15_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(-999.99, 9999.99, n_supp, rng),
    })
    pk = np.arange(n_part, dtype="int64")
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(np.array(ADJECTIVES)[rng.integers(0, 8, n_part)], " "),
            np.array(NOUNS)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(1000.0, 500_000.0, n_ord, rng),
        "o_orderdate": _days(dt.date(1995, 1, 1), 2405, n_ord, rng),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(900.0, 105_000.0, n_line, rng),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(dt.date(1995, 1, 2), 2499, n_line, rng),
    })
    # whole microseconds, sorted by event_id, over 30 days of January 2024
    start_us = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt)) + start_us
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype="int64"),
        "ts": pa.array(ts.astype("int64"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_user, n_evt).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(VOCAB), n)])
        for n in rng.integers(10, 101, n_doc)
    ]
    # 5% near-copies (another doc plus a trailing "dup" token) and 0.2%
    # exact copies: what the dedup operators have to find
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[rng.integers(0, n_doc)] + " dup"
    for i in rng.choice(n_doc, max(1, n_doc // 500), replace=False):
        texts[i] = texts[rng.integers(0, n_doc)]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_WEIGHTS)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    })
    vecs = rng.standard_normal((n_emb, EMBEDDING_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype("int32"),
    })
    return t


def generate(out_dir: str, sf: float, seed: int) -> str:
    """Write the ten tables for scale factor ``sf`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    for name, table in _tables(sf, rng).items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy",
            row_group_size=max(1, table.num_rows),
        )
    return out_dir
