"""Seeded generator of the registry's input tables.

Writes the ten `<table>.parquet` files the query registry reads
(`jly_flink_spark.io.TABLES`) with the same schemas and value shapes
as the project's TPC-H-ish test corpus: a star schema
(region/nation/customer/supplier/part/orders/lineitem), an `events`
clickstream, a `documents` corpus over a small vocabulary in which
about 5% of documents are near-copies of an earlier one, and 64-d
unit `embeddings`.

`scale` 1.0 gives lineitem 60k rows; the other tables scale with it,
except documents and embeddings, which stay at 500 rows as in the
smaller corpora.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_COLORS = ("red", "blue", "green", "small", "large", "black")
_NOUNS = ("widget", "bolt", "ring", "gear", "valve", "nut")
_DAY_US = 86_400 * 1_000_000


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(a, b + 1, n) * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def generate(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table under `out_dir`; return row counts."""
    rng = np.random.default_rng(seed)
    n_li = int(60_000 * scale)
    n_ord, n_cust = n_li // 4, max(n_li // 40, 50)
    n_part, n_supp = max(n_li // 30, 50), max(n_li // 600, 10)
    n_ev = int(10_000 * scale)
    n_users = max(n_ev // 67, 10)
    n_doc = n_vec = 500

    def choice(opts, n, p=None):
        return [opts[i] for i in rng.choice(len(opts), n, p=p)]

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": choice(
                ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"), n_cust),
        },
        "supplier": {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [
                f"{c} {w}"
                for c, w in zip(choice(_COLORS, n_part), choice(_NOUNS, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": choice(
                ("SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"),
                n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": [900 + (i % 1000) / 10 for i in range(n_part)],
        },
        "orders": {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": choice(("F", "O", "P"), n_ord),
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
            "o_orderpriority": choice(
                ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
                n_ord),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": choice(("A", "N", "R"), n_li),
            "l_linestatus": choice(("F", "O"), n_li),
            "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n_li)),
        },
        "events": {
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": _ts(
                np.datetime64("2024-01-01", "us").astype(np.int64)
                + np.cumsum(rng.integers(1, 2 * 30 * _DAY_US // n_ev, n_ev))
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": choice(
                ("click", "view", "purchase", "signup", "error"), n_ev),
            "value": money(0.01, 490.02, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_vec),
    }
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    return {
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [_LANGS[j] for j in rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int) -> dict:
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }
