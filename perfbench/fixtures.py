"""Seeded synthetic fixture tables for the registry workloads.

Writes the ten parquet tables the query registry reads (`region`,
`nation`, `customer`, `supplier`, `part`, `orders`, `lineitem`, `events`,
`documents`, `embeddings`) with the column names, types and value domains
of the repository's test data: one parquet file per table, the row counts of
sf0.01 for the TPC-H-shaped tables and `events`, and of sf0.1 for the corpus
tables (`documents`, `embeddings`), so that candidate generation over the
documents does real shuffle and CPU work.  The embeddings are weakly
label-clustered and unit-norm; 5% of the documents are near-duplicates (an
earlier document's text plus a trailing `dup`).  The same seed gives
byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "red", "small", "big", "green", "old"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()

#: Scale factor of the TPC-H-shaped tables and `events`.
SF = 0.01
#: Rows per table at sf=1.
ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
#: Corpus table sizes: those of the sf0.1 test data.
DOCUMENTS, EMBEDDINGS, EMB_DIM = 5_000, 2_000, 64


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(round(r * SF))) for t, r in ROWS_AT_SF1.items()}
    i32, i64 = pa.int32(), pa.int64()
    tables = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    keys = np.arange(npart)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, i64),
            "p_name": [
                f"{COLORS[c]} {NOUNS[w]}"
                for c, w in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    no = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
        }
    )
    ne = n["events"]
    span_us = 30 * 86_400_000_000
    gaps = rng.exponential(span_us / ne, ne)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.minimum(
        np.cumsum(gaps), span_us - 1
    ).astype("timedelta64[us]")
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, nc // 10), ne), i64),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    tables["documents"] = _documents(rng, DOCUMENTS)
    tables["embeddings"] = _embeddings(rng, EMBEDDINGS)
    return tables


def _documents(rng, nd: int) -> pa.Table:
    texts = [
        " ".join(rng.choice(WORDS, int(rng.integers(10, 100))))
        for _ in range(nd)
    ]
    # 5% near-duplicates: a copy of another document with "dup" appended.
    dups = rng.choice(nd, nd // 20, replace=False)
    for i in dups:
        src = int(rng.integers(0, nd))
        if src != i:
            texts[i] = texts[src] + " dup"
    lang_p = [0.44, 0.14, 0.14, 0.14, 0.14]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=lang_p),
            "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, nv: int) -> pa.Table:
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    x = rng.normal(size=(nv, EMB_DIM)) / np.sqrt(EMB_DIM) + 0.15 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_fixtures(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
