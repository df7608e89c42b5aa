"""Seeded benchmark inputs, written as parquet under the benchmark's work dir.

The tables follow the TPC-H-style schemas the engine's tests use
(`lineitem`, `documents`) and keep their physical layout: ONE parquet
row group per file.  That layout decides how Spark splits the scan, and
so how many barrier ranks actually receive rows; a generator that wrote
several row groups would hide the single-loaded-rank behaviour the
`fit_lineitem` workload is meant to expose.

Same seed -> byte-identical tables.  Sizes scale with ``sf`` the way the
source tables do: 6,000,000 x sf lineitem rows, 50,000 x sf documents.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FEATURES = ["l_quantity", "l_discount", "l_tax", "l_partkey",
            "l_suppkey", "l_linenumber", "l_orderkey"]
LABEL = "l_extendedprice"

# the source corpus is a 31-word technical vocabulary; low entropy is the
# point (shingle and gram frequencies are heavy-tailed, as in boilerplate)
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line fast "
         "batch part scan query agg row key a the").split()


def _write(table: pa.Table, path: str) -> str:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=max(table.num_rows, 1))
    os.replace(tmp, path)
    return path


def retail_price(partkey: np.ndarray) -> np.ndarray:
    """TPC-H `p_retailprice` as a function of the part key."""
    pk = partkey.astype(np.int64)
    return (90000 + (pk // 10) % 20001 + 100 * (pk % 1000)) / 100.0


def lineitem(sf: float, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    n = int(round(6_000_000 * sf))
    lines = rng.integers(1, 8, size=n)            # lines per order, 1..7
    csum = np.cumsum(lines)
    n_orders = int(np.searchsorted(csum, n) + 1)
    lines = lines[:n_orders]
    lines[-1] -= int(lines.sum() - n)
    orderkey = np.repeat(np.arange(n_orders), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    partkey = rng.integers(0, max(int(200_000 * sf), 1), size=n)
    suppkey = rng.integers(0, max(int(10_000 * sf), 1), size=n)
    quantity = rng.integers(1, 51, size=n).astype(np.float64)
    discount = rng.integers(0, 11, size=n) / 100.0
    tax = rng.integers(0, 9, size=n) / 100.0
    price = np.round(quantity * retail_price(partkey), 2)
    flag = np.asarray(["A", "N", "R"])[rng.integers(0, 3, size=n)]
    status = np.asarray(["F", "O"])[rng.integers(0, 2, size=n)]
    day0 = np.datetime64("1995-01-01", "us")
    ship = day0 + rng.integers(0, 2500, size=n).astype("timedelta64[D]")
    order = rng.permutation(n)                    # seeded row order
    return pa.table({
        "l_orderkey": orderkey[order].astype(np.int64),
        "l_partkey": partkey[order].astype(np.int64),
        "l_suppkey": suppkey[order].astype(np.int64),
        "l_linenumber": linenumber[order],
        "l_quantity": quantity[order],
        "l_extendedprice": price[order],
        "l_discount": discount[order],
        "l_tax": tax[order],
        "l_returnflag": flag[order],
        "l_linestatus": status[order],
        "l_shipdate": pa.array(ship[order], type=pa.timestamp("us")),
    })


def documents(sf: float, seed: int, dup_share: float = 0.05) -> pa.Table:
    """Random-word documents plus planted near-duplicates: a ``dup_share``
    of the documents copy an earlier one with ~3% of its words replaced,
    so the dedup operators have real pairs to find."""
    rng = np.random.default_rng([seed, 2])
    n = max(int(round(50_000 * sf)), 20)
    vocab = np.asarray(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in np.flatnonzero(rng.random(len(words)) < 0.03):
                words[j] = vocab[int(rng.integers(0, len(vocab)))]
        else:
            words = list(vocab[rng.integers(0, len(vocab),
                                            size=int(rng.integers(8, 96)))])
        texts.append(" ".join(words))
    langs = np.asarray(["en", "en", "en", "de", "es", "fr", "zh"])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), size=n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })


def write_inputs(root: str, sf: float, seed: int,
                 tables: tuple[str, ...] = ("lineitem", "documents")) -> str:
    """Write the seeded tables to ``root/sf<sf>-seed<seed>/`` and return it."""
    out = os.path.join(root, f"sf{sf:g}-seed{seed}")
    os.makedirs(out, exist_ok=True)
    makers = {"lineitem": lineitem, "documents": documents}
    for name in tables:
        path = os.path.join(out, f"{name}.parquet")
        if not os.path.exists(path):
            _write(makers[name](sf, seed), path)
    return out
