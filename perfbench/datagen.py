"""Seeded input tables for the benchmark.

Writes the tables the benchmark's workloads read (``orders``,
``lineitem``, ``documents``, ``embeddings``) as parquet, with the
column names, types and value domains of the catalog's TPC-H-shaped
test tables. Row counts scale with ``sf`` the same way (sf0.1: 150,000
orders, 600,000 line items, 5,000 documents, 2,000 embeddings). Each
table draws from its own seeded generator, so the same ``(seed, sf)``
writes the same rows whichever tables are asked for.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("orders", "lineitem", "documents", "embeddings")

# the documents' word list: the catalog's text kernels (BPE merges,
# keyword lists, gazetteer oracles) are written against these words
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
N_SOURCES = 20
DUP_FRAC = 0.05  # documents that repeat an earlier one plus " dup"
EMB_DIM = 64

_EPOCH = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def _price(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    # two decimals, like the source data: sums stay exact under the
    # catalog's DECIMAL casts
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, n: int, days: int) -> pa.Array:
    off = rng.integers(0, days, n).astype("int64") * _DAY_US
    return pa.array(_EPOCH + off.astype("timedelta64[us]"), pa.timestamp("us"))


def _choice(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    n_dup = int(n * DUP_FRAC)
    for i in sorted(rng.choice(np.arange(1, n), n_dup, replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _choice(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def make_tables(seed: int, sf: float, tables=TABLES) -> dict[str, pa.Table]:
    """The named benchmark tables for ``seed`` at scale factor ``sf``."""
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(10, int(150_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_li = max(400, int(6_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_emb = max(100, int(20_000 * sf))

    def orders(rng):
        return pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _choice(rng, ["O", "F", "P"], n_ord),
                "o_totalprice": pa.array(_price(rng, 1000.0, 500_000.0, n_ord)),
                "o_orderdate": _dates(rng, n_ord, 2404),
                "o_orderpriority": _choice(
                    rng,
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    n_ord,
                ),
            }
        )

    def lineitem(rng):
        return pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
                "l_extendedprice": pa.array(_price(rng, 900.0, 105_000.0, n_li)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
                "l_linestatus": _choice(rng, ["O", "F"], n_li),
                "l_shipdate": _dates(rng, n_li, 2499),
            }
        )

    build = {
        "orders": orders,
        "lineitem": lineitem,
        "documents": lambda rng: _documents(rng, n_doc),
        "embeddings": lambda rng: _embeddings(rng, n_emb),
    }
    return {
        t: build[t](np.random.default_rng([seed, TABLES.index(t)])) for t in tables
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    """Write each table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
