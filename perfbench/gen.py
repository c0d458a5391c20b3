"""Seeded input generation: a TPC-H-shaped star at sf0.1 plus a text corpus.

The same seed always yields byte-identical tables. Generation is the
benchmark's own cost: ``ensure_inputs`` caches one directory per seed and the
measured process only ever reads the finished files.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMERS = 15_000
N_ORDERS = 150_000
N_DOCUMENTS = 2_000
#: rows of the typed lineitem slice the write-back ops load into sqlite
ROUNDTRIP_ROWS = 120_000

DATE_LO = datetime.date(1992, 1, 1)
DATE_HI = datetime.date(1998, 8, 2)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = (
    "the a and of to in is batch part spark line column order small sort fast "
    "value scan hash slow group agg filter query big key window row table "
    "stream merge data customer vector join"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]

#: marker written last, so an interrupted generation is redone, not reused
_DONE = "_COMPLETE"
#: seed directories kept in the cache (about 15 MB each)
KEEP_SEEDS = 8


def _epoch_us(days: np.ndarray) -> np.ndarray:
    base = (DATE_LO - datetime.date(1970, 1, 1)).days
    return (days.astype(np.int64) + base) * 86_400_000_000


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    # one file, one row group: the layout of the repository's test tables
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=1 << 22)


def _customers(rng: np.random.Generator) -> pa.Table:
    keys = np.arange(1, N_CUSTOMERS + 1, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": rng.integers(0, 25, N_CUSTOMERS, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMERS)]),
    })


def _orders_lineitem(rng: np.random.Generator) -> tuple[pa.Table, pa.Table]:
    span = (DATE_HI - DATE_LO).days - 151
    okeys = np.arange(1, N_ORDERS + 1, dtype=np.int64)
    odays = rng.integers(0, span, N_ORDERS)
    lines = rng.integers(1, 8, N_ORDERS)
    n = int(lines.sum())
    l_order = np.repeat(okeys, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_line = (np.arange(n) - starts + 1).astype(np.int32)
    partkey = rng.integers(1, 20_001, n, dtype=np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * (900 + (partkey % 1000) + partkey / 10_000), 2)
    ship = np.repeat(odays, lines) + rng.integers(1, 122, n)
    cutoff = (datetime.date(1995, 6, 17) - DATE_LO).days
    flag = np.where(ship > cutoff, "N", np.where(rng.random(n) < 0.5, "R", "A"))
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(1, 1_001, n, dtype=np.int64),
        "l_linenumber": l_line,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(flag),
        "l_linestatus": pa.array(np.where(ship > cutoff, "O", "F")),
        "l_shipdate": pa.array(_epoch_us(ship), pa.timestamp("us")),
    })
    total = np.bincount(np.searchsorted(okeys, l_order), weights=price,
                        minlength=N_ORDERS)
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, N_CUSTOMERS + 1, N_ORDERS, dtype=np.int64),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, N_ORDERS)]),
        "o_totalprice": np.round(total, 2),
        "o_orderdate": pa.array(_epoch_us(odays), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)]),
    })
    return orders, lineitem


def _documents(rng: np.random.Generator) -> pa.Table:
    """Word-salad documents with planted exact and near duplicates, so every
    stage of the curation pipeline (quality gate, exact dedup, MinHash
    near-dup) removes something."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        r = rng.random()
        if i > 10 and r < 0.02:  # exact copy of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.06:  # one word swapped in an earlier document
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            texts.append(" ".join(words))
        elif r > 0.97:  # too short for the quality gate
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(2, 8)))))
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(12, 100)))))
    return pa.table({
        "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), N_DOCUMENTS)]),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCUMENTS)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _roundtrip(lineitem: pa.Table, rng: np.random.Generator) -> pa.Table:
    """A typed lineitem slice (decimals, a date, a string) for insert/exec."""
    start = int(rng.integers(0, lineitem.num_rows - ROUNDTRIP_ROWS))
    s = lineitem.slice(start, ROUNDTRIP_ROWS)

    def cents(col: str) -> pa.Array:
        return pa.array(
            [decimal.Decimal(int(c)).scaleb(-2)
             for c in np.round(s[col].to_numpy() * 100)],
            pa.decimal128(15, 2),
        )

    return pa.table({
        "l_orderkey": s["l_orderkey"],
        "l_linenumber": s["l_linenumber"],
        "l_quantity": cents("l_quantity"),
        "l_extendedprice": s["l_extendedprice"],
        "l_discount": cents("l_discount"),
        "l_returnflag": s["l_returnflag"],
        "l_shipdate": s["l_shipdate"].cast(pa.date32()),
    })


def generate(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    orders, lineitem = _orders_lineitem(rng)
    _write(_customers(rng), out_dir, "customer")
    _write(orders, out_dir, "orders")
    _write(lineitem, out_dir, "lineitem")
    _write(_documents(rng), out_dir, "documents")
    _write(_roundtrip(lineitem, rng), out_dir, "roundtrip")


def ensure_inputs(cache_root: str, seed: int) -> str:
    """Directory holding the seed's inputs, generated on first use. The name
    carries a digest of this file, so a changed generator never reuses
    inputs an older one wrote."""
    with open(__file__, "rb") as f:
        digest = hashlib.sha1(f.read()).hexdigest()[:10]
    out = os.path.join(cache_root, f"seed-{seed}-{digest}")
    done = os.path.join(out, _DONE)
    if os.path.exists(done):
        os.utime(done)
    else:
        shutil.rmtree(out, ignore_errors=True)
        generate(seed, out)
        open(done, "w").close()
    _prune(cache_root)
    return out


def _prune(cache_root: str) -> None:
    """Drop all but the most recently used seed directories."""
    def last_used(d: str) -> float:
        try:
            return os.path.getmtime(os.path.join(cache_root, d, _DONE))
        except OSError:
            return 0.0

    for d in sorted(os.listdir(cache_root), key=last_used, reverse=True)[KEEP_SEEDS:]:
        shutil.rmtree(os.path.join(cache_root, d), ignore_errors=True)
