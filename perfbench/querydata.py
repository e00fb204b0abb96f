"""Seeded input tables for the query_mix workload.

The `queries()` entries read `<dir>/<table>.parquet`. This writes the
three tables the chosen entries read, with the column names and Parquet
types of the contract's sf0.01 tables and about the same sizes:
`documents` (500 rows), `lineitem` (60,000) and `supplier` (100). The
same seed gives byte-identical files.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 500
N_LINEITEM = 60_000
N_SUPPLIER = 100

# Word list of the contract documents: it holds every gazetteer word and
# relation cue the text queries look for.
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def documents(seed: int) -> pa.Table:
    rng = random.Random(f"documents-{seed}")
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, for the LSH entries
            words = texts[rng.randrange(i)].split(" ")
            words[rng.randrange(len(words))] = "dup"
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randint(10, 99))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in texts], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def lineitem(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    n = N_LINEITEM
    day0 = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, 7 * 365, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, 15_000, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(float)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n), pa.string()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n), pa.string()),
        "l_shipdate": pa.array(day0 + days, pa.timestamp("us")),
    })


def supplier(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    n = N_SUPPLIER
    return pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)],
                           pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9_999, n), 2)),
    })


TABLES = {"documents": documents, "lineitem": lineitem, "supplier": supplier}


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table to `<out_dir>/<name>.parquet`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, make in TABLES.items():
        table = make(seed)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
