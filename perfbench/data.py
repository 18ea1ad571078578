"""Seeded input generators.  Each writes parquet files the engine and the
DuckDB oracle both read; the same seed always gives the same bytes of data.

``lineitem`` / ``orders`` follow the sf0.1 test fixtures' sizes (600k and
150k rows).  ``documents`` has 800 docs, not sf0.1's 5,000: a shard op is
a serial chain of Spark jobs that takes ~9 s at 5,000 docs, so one timed
four-shard cycle alone would take over half a minute.  ``tiny`` shrinks every table for
the benchmark's own tests.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "full": {"lineitem": 600_000, "documents": 800},
    "tiny": {"lineitem": 6_000, "documents": 160},
}

_DAY0 = dt.date(1992, 1, 1)
_DAYS = (dt.date(1998, 12, 31) - _DAY0).days

# short technical words, like the sf0.1 test fixtures' documents.parquet
WORDS = (
    "a agg batch big column data fast filter group hash key line merge "
    "order part query row scan slow small sort spark stream table value "
    "vector window join index shard plan stage task cache spill buffer "
    "page block file node level bloom range probe build sketch bucket "
    "count mean median tail skew quantile sample split union frame"
).split()


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path, compression="snappy")
    return path


def _dates(rng: np.random.Generator, n: int) -> pa.Array:
    days = rng.integers(0, _DAYS, n).astype("int32")
    epoch0 = (_DAY0 - dt.date(1970, 1, 1)).days
    return pa.array(days + epoch0, type=pa.int32()).cast(pa.date32())


def lineitem_orders(seed: int, size: str, out_dir: str) -> dict:
    """TPC-H-shaped ``lineitem`` and ``orders`` (the columns the histogram
    registry bins: quantity, price, discount, flags, ship date)."""
    rng = np.random.default_rng([seed, 1])
    n = SIZES[size]["lineitem"]
    n_orders = n // 4
    qty = rng.integers(1, 51, n).astype("float64")
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    li = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_linenumber": rng.integers(1, 8, n).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": _dates(rng, n),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, max(n_orders // 10, 1), n_orders),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_orders),
        "o_totalprice": np.round(rng.uniform(800.0, 600000.0, n_orders), 2),
        "o_orderdate": _dates(rng, n_orders),
    })
    return {
        "lineitem": _write(li, os.path.join(out_dir, "lineitem.parquet")),
        "orders": _write(orders, os.path.join(out_dir, "orders.parquet")),
    }


def documents(seed: int, size: str, out_dir: str) -> str:
    """Crawl-like ``documents(doc_id, text)``.  About one doc in six is a
    copy of an earlier one with one word changed, so both dedup verdicts
    (dup of a keeper, dup within the shard) occur in every shard.  Ids are
    a seeded permutation, so ``doc_id % 8`` spreads copies across shards."""
    rng = np.random.default_rng([seed, 3])
    n = SIZES[size]["documents"]
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i >= 8 and rng.random() < 0.17:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
        else:
            toks = list(rng.choice(words, int(rng.integers(25, 70))))
        texts.append(" ".join(toks))
    ids = rng.permutation(n).astype("int64")
    table = pa.table({"doc_id": ids, "text": texts})
    return _write(table, os.path.join(out_dir, "documents.parquet"))
