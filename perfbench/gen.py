"""Seeded input tables for the benchmark.

The engine reads one parquet file per table (``{dir}/{name}.parquet``).
These generators reproduce the shapes of the repository's synthetic
star-schema test data -- same columns, types, key ranges and category
sets -- so every public function the benchmark drives sees data of the
kind its tests and oracles were written for, but the rows come from the
benchmark's own seed.

Corpus structure that the LLM-corpus chain depends on is planted on
purpose: about 5% of documents are another document's text plus
" dup" (near-duplicates for the dedup clusters and span cut), and about
2% of embeddings are a slightly perturbed copy of another vector
(semantic twins for SemDeDup).
"""

from __future__ import annotations

import datetime
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts per table at scale factor 1.0, as in the test data.
ROWS_PER_SF = {
    "customer": 150_000,
    "orders": 1_500_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a the join hash row batch scan column customer filter small slow "
    "merge order vector line table data agg value key stream window spark "
    "part group big sort query fast"
).split()
EMB_DIM = 64
N_LABELS = 10
_EPOCH = datetime.datetime(1970, 1, 1)
_FIRST_DAY = (datetime.datetime(1995, 1, 1) - _EPOCH).days
_LAST_DAY = (datetime.datetime(2001, 8, 1) - _EPOCH).days


def table_rows(name: str, sf: float) -> int:
    return max(50, int(ROWS_PER_SF[name] * sf))


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _customer(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    keys = np.arange(n, dtype=np.int64)
    return {
        "c_custkey": pa.array(keys),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n)),
    }


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> dict[str, pa.Array]:
    days = rng.integers(_FIRST_DAY, _LAST_DAY + 1, n).astype(np.int64)
    micros = days * 86_400_000_000
    return {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(STATUSES, n)),
        "o_totalprice": pa.array(np.round(rng.uniform(900.0, 500_000.0, n), 2)),
        "o_orderdate": pa.array(micros, type=pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    }


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    x = rng.standard_normal((n, EMB_DIM))
    for i in np.flatnonzero(rng.random(n) < 0.02):
        j = int(rng.integers(0, n))
        x[i] = x[j] + 0.01 * rng.standard_normal(EMB_DIM)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, n, dtype=np.int32)),
    }


def make_tables(out_dir: str, seed: int, sf: float, names: tuple[str, ...]) -> str:
    """Write the named tables at scale factor ``sf`` under ``out_dir``.
    Each table draws from its own stream of ``seed``, so the rows of one
    table do not depend on which other tables are generated."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = table_rows("customer", sf)
    for name in names:
        rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
        if name == "customer":
            cols = _customer(rng, n_cust)
        elif name == "orders":
            cols = _orders(rng, table_rows("orders", sf), n_cust)
        elif name == "documents":
            cols = _documents(rng, table_rows("documents", sf))
        elif name == "embeddings":
            cols = _embeddings(rng, table_rows("embeddings", sf))
        else:
            raise ValueError(f"no generator for table {name!r}")
        _write(out_dir, name, cols)
    return out_dir
