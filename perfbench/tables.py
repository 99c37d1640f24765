"""Seeded copies of the sf0.1 registry tables the headline queries read.

The headline queries run on the TESTDATA.md tables (documents,
embeddings, events, lineitem, orders, customer).  The benchmark reads
and writes only inside the repository, so it writes same-schema tables
from ``numpy.random.default_rng(seed)`` with the shape measured on the
sf0.1 tables (TESTDATA seed 42; pyarrow, one pass over every column):

=========== ======= ========== ================================================
table       rows    row groups measured shape, reproduced here
=========== ======= ========== ================================================
documents   5,000   1          doc_id 0..4999; text 10-100 words (median 54)
                               from a 31-word vocabulary, no NULL; 250 docs
                               (5%) are another doc's text + " dup", so 8 exact
                               duplicate pairs; lang en .41, zh/es/fr .15,
                               de .14; source ``src{doc_id % 20}``;
                               n_chars = len(text)
embeddings  2,000   1          64 float32 dims, N(0, 1/8) rows scaled to unit
                               norm; label 0..9 uniform
events      100,000 1          ts sorted, uniform over 2024-01-01..01-30;
                               user_id 0..1499; 5 event types uniform; value
                               exponential (mean 50) rounded to 2 decimals;
                               props ``{"k": 0..99}``
lineitem    600,000 1          l_orderkey uniform 0..149,999 (147k distinct);
                               partkey 0..19,999; suppkey 0..999; linenumber
                               1..7; quantity 1..50; extendedprice uniform
                               900-105,000 (independent of quantity); discount
                               0-.10, tax 0-.08 in steps of .01; returnflag
                               R/A/N, linestatus O/F uniform; shipdate
                               1995-01-02 + 0..2498 days
orders      150,000 1          o_orderkey 0..149,999; custkey 0..14,999 (no
                               orphans); status O/F/P and 5 priorities
                               uniform; totalprice uniform 1,000-500,000;
                               orderdate 1995-01-01 + 0..2404 days
customer    15,000  1          c_custkey 0..14,999; ``Customer#%09d``;
                               nationkey 0..24; acctbal uniform -1,000-10,000;
                               5 segments uniform
=========== ======= ========== ================================================

Where the copy diverges: it is a draw from these distributions, not the
sf0.1 bytes, so counts that depend on the draw (exact duplicate pairs,
distinct order keys, rounding ties in ``events_hourly``) vary with the
seed around the sf0.1 figures.  Files are snappy-compressed like sf0.1
but written by this pyarrow, so their byte sizes differ a little.  The
same seed gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 5_000
NEAR_DUPS = 250
N_EMB = 2_000
EMB_DIM = 64  # the ANN twins bake literals for this width (queries._EMB_DIM)
N_EVENTS = 100_000
N_USERS = 1_500
N_LINEITEM = 600_000
N_ORDERS = 150_000
N_CUSTOMERS = 15_000

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.412, 0.151, 0.149, 0.148, 0.140]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01 00:00:00
_1995_01_01_US = 788_918_400 * 1_000_000


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(
        pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
        row_group_size=1 << 30, compression="snappy",
    )


def _documents(rng: np.random.Generator) -> dict:
    words = np.array(_WORDS)
    text = [
        " ".join(words[rng.integers(0, len(_WORDS), size=k)])
        for k in rng.integers(10, 101, size=N_DOCS)
    ]
    # near duplicates: another document's original text plus " dup"; two
    # that copy the same document are an exact duplicate pair
    src = rng.integers(0, N_DOCS, size=NEAR_DUPS)
    dst = rng.choice(N_DOCS, size=NEAR_DUPS, replace=False)
    orig = list(text)
    for i, j in zip(dst, src):
        text[i] = orig[j] + " dup"
    ids = np.arange(N_DOCS, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": pa.array(text, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, size=N_DOCS, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }


def _embeddings(rng: np.random.Generator) -> dict:
    vecs = rng.normal(0.0, 0.125, size=(N_EMB, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(N_EMB, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), EMB_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=N_EMB), pa.int32()),
    }


def _events(rng: np.random.Generator) -> dict:
    ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _US_PER_DAY, size=N_EVENTS))
    return {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, N_USERS, size=N_EVENTS),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, size=N_EVENTS)),
        "value": np.round(rng.exponential(50.0, size=N_EVENTS), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=N_EVENTS)]),
    }


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _lineitem(rng: np.random.Generator) -> dict:
    n = N_LINEITEM
    ship = rng.integers(0, 2499, size=n) * _US_PER_DAY + _1995_01_01_US + _US_PER_DAY
    return {
        "l_orderkey": rng.integers(0, N_ORDERS, size=n),
        "l_partkey": rng.integers(0, 20_000, size=n),
        "l_suppkey": rng.integers(0, 1_000, size=n),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n), pa.int32()),
        "l_quantity": rng.integers(1, 51, size=n).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": pa.array(rng.choice(["R", "A", "N"], size=n)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], size=n)),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    }


def _orders(rng: np.random.Generator) -> dict:
    n = N_ORDERS
    day = rng.integers(0, 2405, size=n) * _US_PER_DAY + _1995_01_01_US
    return {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMERS, size=n),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], size=n)),
        "o_totalprice": _cents(rng, 1_000.0, 500_000.0, n),
        "o_orderdate": pa.array(day, pa.timestamp("us")),
        "o_orderpriority": pa.array(
            rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=n)
        ),
    }


def _customer(rng: np.random.Generator) -> dict:
    n = N_CUSTOMERS
    return {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n),
        "c_mktsegment": pa.array(
            rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], size=n)
        ),
    }


TABLES = {
    "documents": _documents,
    "embeddings": _embeddings,
    "events": _events,
    "lineitem": _lineitem,
    "orders": _orders,
    "customer": _customer,
}


def write_registry_tables(out_dir: str, seed: int) -> int:
    """Write every table under ``out_dir``; returns the total parquet bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for i, (name, make) in enumerate(TABLES.items()):
        # one stream per table, so resizing one table leaves the others
        _write(out_dir, name, make(np.random.default_rng([seed, i])))
        total += os.path.getsize(os.path.join(out_dir, f"{name}.parquet"))
    return total
