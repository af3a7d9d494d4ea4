"""Deterministic synthetic tables in the shape of the FIXTURES.md corpus.

The query surface reads ten parquet tables. The benchmark writes
its own, with the same schemas, row counts and
value domains (keys, categorical vocabularies, the 30-word document
vocabulary with ~5% near-duplicate documents, unit-norm 64-d
embeddings clustered by label), except for the TPC-H dates: orders
are dated 1992-01-01..1998-08-02 and each line item ships 1-121 days
after its order, as TPC-H generates them, so that the date filters
of the TPC-H shaped queries select rows.

The tables depend only on ``scale`` and the fixed ``DATA_SEED``, never
on the workload seed, so the output fingerprints pinned in
``fingerprints.json`` hold for every run; the workload seed changes
query order and the LLM corpus instead.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

# rows per unit scale factor (sf0.1 matches the FIXTURES.md sf0.1 row counts)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
# FIXTURES.md never lists fewer rows than these
MIN_ROWS = {"documents": 500, "embeddings": 500}

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1992 = np.datetime64("1992-01-01", "us").astype(np.int64)
# 1992-01-01..1998-08-02, TPC-H's o_orderdate range
ORDER_DAYS = 2406
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def document_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Word-soup documents of 10-100 words; ~5% copy an earlier
    document and append ``dup`` (the near-duplicate pairs the dedup
    queries look for)."""
    lengths = rng.integers(10, 101, n)
    picks = rng.integers(0, len(WORDS), int(lengths.sum()))
    texts: list[str] = []
    pos = 0
    for i, ln in enumerate(lengths):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(WORDS[j] for j in picks[pos : pos + ln]))
        pos += ln
    return texts


def build_tables(scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n = {t: max(MIN_ROWS.get(t, 1), int(round(r * scale))) for t, r in ROWS_PER_SF.items()}
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": _keyed_names("Customer", n["customer"]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": segments[rng.integers(0, 5, n["customer"])],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": _keyed_names("Supplier", n["supplier"]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    p_names = np.array([f"{a} {b}" for a in adjectives for b in nouns])
    p_types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pkeys = np.arange(n["part"], dtype=np.int64)
    tables["part"] = pa.table(
        {
            "p_partkey": pkeys,
            "p_name": p_names[rng.integers(0, len(p_names), n["part"])],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": p_types[rng.integers(0, len(p_types), n["part"])],
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900.0 + (pkeys % 1000) * 0.1, 1),
        }
    )
    order_days = rng.integers(0, ORDER_DAYS, n["orders"])
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n["orders"])],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _ts(_EPOCH_1992 + order_days * _US_PER_DAY),
            "o_orderpriority": priorities[rng.integers(0, 5, n["orders"])],
        }
    )
    l_orderkey = rng.integers(0, n["orders"], n["lineitem"])
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": l_orderkey,
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
            "l_discount": np.round(rng.integers(0, 21, n["lineitem"]) / 200.0, 2),
            "l_tax": np.round(rng.integers(0, 17, n["lineitem"]) / 200.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n["lineitem"])],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n["lineitem"])],
            "l_shipdate": _ts(
                _EPOCH_1992
                + (order_days[l_orderkey] + rng.integers(1, 122, n["lineitem"])) * _US_PER_DAY
            ),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * _US_PER_DAY, n["events"]))
    ev_types = np.array(["click", "error", "purchase", "signup", "view"])
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n["events"], dtype=np.int64),
            "ts": _ts(_EPOCH_2024 + ev_us),
            "user_id": rng.integers(0, max(1, n["events"] * 3 // 200), n["events"]),
            "event_type": ev_types[rng.integers(0, 5, n["events"])],
            "value": np.round(rng.exponential(50.0, n["events"]), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
        }
    )
    texts = document_texts(rng, n["documents"])
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n["documents"], dtype=np.int64),
            "text": texts,
            "lang": langs[rng.integers(0, len(langs), n["documents"])],
            "source": [f"src{i % 20}" for i in range(n["documents"])],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n["embeddings"])
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (n["embeddings"], 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n["embeddings"], dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return tables


def write_tables(out_dir: str, scale: float) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
