"""Seeded inputs for the benchmark: the corpus tables and the expected
state of the ``bootstrap`` target.

Everything is drawn from ``numpy.random.default_rng(seed)`` and written
with pyarrow, so the same seed yields byte-identical parquet and binlog
files and the engine sees only these files. Schemas follow the
package's test corpus (ten tables: a TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ORDERS_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
LANGS = np.array(["en", "zh", "es", "fr", "de"])
VOCAB = np.array(
    "a agg batch big column data fast filter group hash join key line merge order part "
    "query row scan slow small sort spark stream table value vector window".split()
)
PART_ADJ = np.array("large small hot cold red blue shiny matte heavy light".split())
PART_NOUN = np.array("ring bolt nut gear pipe valve spring plate screw washer".split())
PART_TYPES = np.array(["LARGE", "SMALL", "MEDIUM", "ECONOMY", "PROMO", "STANDARD"])

_DAY_US = 86_400_000_000
_EPOCH_1992 = 694_224_000_000_000  # 1992-01-01 in µs since 1970
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def orders_table(rng, n: int, n_cust: int) -> pa.Table:
    days = rng.integers(0, 7 * 365, n)
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 900, 400_000, n),
            "o_orderdate": _ts(_EPOCH_1992 + days * _DAY_US),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, n)],
        }
    )


def _documents(rng, n: int) -> dict:
    lens = rng.integers(8, 80, n)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.08:
            # near-duplicate of an earlier document: a few tokens swapped
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 12)):
                toks[j] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            toks = list(VOCAB[rng.integers(0, len(VOCAB), lens[i])])
        texts.append(" ".join(toks))
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    labels = rng.integers(0, 10, n).astype("int32")
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] + rng.normal(0, 0.8, (n, dim))
    dup = rng.random(n) < 0.05
    src = rng.integers(0, n, n)
    vecs[dup] = vecs[src[dup]] + rng.normal(0, 0.01, (int(dup.sum()), dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype("float32").ravel())
    return {
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.ListArray.from_arrays(np.arange(0, n * dim + 1, dim, dtype="int32"), flat),
        "label": labels,
    }


def write_corpus(out: str, seed: int, sf: float) -> None:
    """All ten corpus tables at scale factor ``sf`` (sf0.1 = 150k
    orders)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    _write(out, "region", {
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999, 9999, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999, 9999, n_supp),
    })
    adj, noun = rng.integers(0, 10, n_part), rng.integers(0, 10, n_part)
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": PART_TYPES[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    pq.write_table(orders_table(rng, n_ord, n_cust), os.path.join(out, "orders.parquet"))
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900, 2000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_EPOCH_1992 + rng.integers(0, 10 * 365, n_li) * _DAY_US),
    })
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_ev),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0, 500, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    _write(out, "documents", _documents(rng, n_doc))
    _write(out, "embeddings", _embeddings(rng, n_emb))


# --- the bootstrap's expected target ----------------------------------------
def orders_rows(table: pa.Table) -> list[dict]:
    """The orders rows as JSON row images: the date travels as text in
    Spark's ``yyyy-MM-dd HH:mm:ss`` form (order dates are whole days)."""
    day = pc.strftime(table["o_orderdate"], "%Y-%m-%d")
    text = pc.binary_join_element_wise(day, " 00:00:00", "")
    return table.set_column(4, "o_orderdate", text).to_pylist()


def orders_converged(table: pa.Table) -> dict[int, tuple]:
    """The target after the snapshot and the update/delete rows of
    ``xxt_cdc_spark.changefeed.orders_changefeed``, by that changefeed's
    own rule: every 7th key is deleted, every other 3rd key has status
    ``U`` and its price times 1.1 (the redelivered updates change
    nothing)."""
    out = {}
    for r in orders_rows(table):
        k = r["o_orderkey"]
        if k % 7 == 0:
            continue
        if k % 3 == 0:
            r = dict(r, o_orderstatus="U", o_totalprice=r["o_totalprice"] * 1.1)
        out[k] = tuple(r[c] for c in ORDERS_COLS)
    return out
