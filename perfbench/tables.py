"""Seeded generator for the TPC-H-shaped parquet tables the registered
queries read (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings).

The shapes follow the tables the repository's queries are written
against: same column names and parquet types, one row group per file,
snappy.  Row counts scale with ``sf`` like TPC-H (sf=0.1: 150 000 orders,
~600 000 line items).  The properties the queries depend on are kept:

- ``l_extendedprice``/``o_totalprice`` are exact two-decimal values (the
  flagship sums integer cents);
- every (returnflag, month) group of the flagship is populated;
- orders carry 1-7 line items over ``200 000 * sf`` parts, so the part
  co-order graph of x24 has triangles;
- documents are word sequences over a 30-word vocabulary; 5 % are a copy
  of another document of at least 20 words with `` dup`` appended, so
  every near-duplicate pair has 3-shingle Jaccard >= 18/19 and unrelated
  documents sit far below 0.5 (the pipeline's LSH recall argument).

Only numpy and pyarrow are used; the same (seed, sf) always gives the same
bytes of data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

_EPOCH_1992 = np.datetime64("1992-01-01", "us")
_ORDER_DAYS = 2405  # 1992-01-01 .. 1998-08-02, the TPC-H order-date span


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(
        pa.table(cols),
        os.path.join(out_dir, f"{name}.parquet"),
        row_group_size=1 << 30,
        compression="snappy",
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal doubles: integer cents / 100 (exactly representable
    within the nearest-double of the decimal literal)."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _documents(rng: np.random.Generator, n: int) -> dict:
    lens = rng.integers(10, 100, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    long_docs = np.flatnonzero(lens >= 20)
    n_dup = n // 20
    dup_at = rng.choice(n, n_dup, replace=False)
    for i in dup_at:
        src = int(long_docs[rng.integers(0, len(long_docs))])
        if src != i:
            texts[i] = texts[src] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table for scale factor ``sf`` into ``out_dir`` and
    return the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    n_emb = max(100, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adjectives = np.array(["large", "hot", "small", "cold", "red", "blue"])
    nouns = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(
                adjectives[rng.integers(0, 6, n_part)],
                nouns[rng.integers(0, 6, n_part)],
            )
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
        )[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": (90000 + np.arange(n_part) % 20001 * 10) / 100.0,
    })

    order_day = rng.integers(0, _ORDER_DAYS, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 850.0, 500_000.0, n_ord),
        "o_orderdate": _EPOCH_1992 + order_day.astype("timedelta64[D]"),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _EPOCH_1992
        + (order_day[l_order] + rng.integers(1, 122, n_li)).astype(
            "timedelta64[D]"
        ),
    })

    ev_types = np.array(["click", "view", "purchase", "error", "login"])
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us")
        + np.sort(rng.integers(0, 30 * 86_400_000_000, n_events)).astype(
            "timedelta64[us]"
        ),
        "user_id": rng.integers(0, max(100, n_events // 50), n_events).astype(
            np.int64
        ),
        "event_type": ev_types[rng.integers(0, 5, n_events)],
        "value": _money(rng, 0.0, 500.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    _write(out_dir, "documents", _documents(rng, n_docs))

    emb = rng.normal(0.0, 0.1, (n_emb, 64)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return {
        "orders": n_ord,
        "lineitem": n_li,
        "documents": n_docs,
        "events": n_events,
    }
