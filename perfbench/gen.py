"""Seeded input generator for the benchmark.

Writes parquet tables with the schemas and value domains of the
TPC-H-ish corpus the program's queries are written for (region/nation
names, date ranges, ``event_type``, ``lang``, ``source``), at ``SCALE``
times the sf0.1 row counts. The same seed gives byte-identical inputs.

The document corpus plants the structure the dedup operators exist for:

- near-duplicate clusters (a base document and 1-4 copies with a few
  token substitutions);
- one id-permuted chain: consecutive documents are windows over one
  unique token stream that overlap by more than half (trigram Jaccard
  well above ``MIN_JACCARD``) while documents two apart share almost
  nothing, so connected components need real rounds.

Document ids are a permutation, so neither clusters nor the chain sit on
consecutive ids; the chain's ids are the same for every seed.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
N_SOURCES = 20
# the corpus's head vocabulary; the tail is generated letter words
HEAD_WORDS = ("a the data spark window merge table column vector stream "
              "value small join filter big group hash customer sort order "
              "slow line part fast row agg key query scan batch").split()

# the benchmark's input size: 0.1 x the sf0.1 row counts (the sf0.01 sizes)
SCALE = 0.1
# sf0.1 row counts; a table at scale s has round(count * s) rows (part
# is not written; its count sets the l_partkey domain)
BASE_ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 5_000,
}
_US = 1_000_000


def _ts(day: dt.datetime) -> int:
    return int(day.replace(tzinfo=dt.timezone.utc).timestamp()) * _US


def _word(i: int, prefix: str) -> str:
    """All-letter token for integer ``i`` (the tokenizer keeps letter runs
    only, so generated tokens must be pure letters)."""
    s = prefix
    i += 1
    while i:
        s += chr(ord("a") + i % 26)
        i //= 26
    return s


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.datetime, end: dt.datetime, n: int) -> pa.Array:
    span = (end - start).days
    us = _ts(start) + rng.integers(0, span + 1, n) * 86_400 * _US
    return pa.array(us, pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _rows(name: str, scale: float) -> int:
    return max(10, int(round(BASE_ROWS[name] * scale)))


def gen_region(rng, out_dir, scale):
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})


def gen_nation(rng, out_dir, scale):
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def gen_customer(rng, out_dir, scale):
    n = _rows("customer", scale)
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)])})


def gen_supplier(rng, out_dir, scale):
    n = _rows("supplier", scale)
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n))})


def gen_orders(rng, out_dir, scale):
    n = _rows("orders", scale)
    n_cust = _rows("customer", scale)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": pa.array(
            np.array(ORDER_STATUS)[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": _days(rng, dt.datetime(1995, 1, 1),
                             dt.datetime(2001, 8, 1), n),
        "o_orderpriority": pa.array(
            np.array(PRIORITIES)[rng.integers(0, 5, n)])})


def gen_lineitem(rng, out_dir, scale):
    n = _rows("lineitem", scale)
    n_ord = _rows("orders", scale)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, _rows("part", scale), n),
                              pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, _rows("supplier", scale), n),
                              pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _days(rng, dt.datetime(1995, 1, 2),
                            dt.datetime(2001, 11, 4), n)})


def gen_events(rng, out_dir, scale):
    """Events sorted by time with event_id in time order (as in the
    source corpus); users scale with the row count."""
    n = _rows("events", scale)
    n_users = max(10, int(round(1_500 * scale)))
    start = _ts(dt.datetime(2024, 1, 1))
    span = 30 * 86_400 * _US
    ts = np.sort(start + rng.integers(0, span, n))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, n)])})


def chain_docs(n: int) -> int:
    """Length of the planted chain in a corpus of ``n`` documents."""
    return min(48, max(8, n // 100))


def _documents(rng, n: int) -> list[str]:
    """``n`` document texts: the chain first, then a Zipfian background
    in which every 25th document heads a near-duplicate cluster of 1-4
    copies with about 5% of tokens substituted. Lengths and the cluster
    layout depend on ``n`` only and the seed picks the words, so every
    seed asks for the same amount of work."""
    vocab = np.array(HEAD_WORDS + [_word(i, "w") for i in range(4_000)])
    weights = 1.0 / np.arange(1, len(vocab) + 1)
    weights /= weights.sum()
    # chain: doc k = tokens [k*18, k*18 + 40) of one unique stream, so
    # neighbours share 22 tokens and docs two apart share 4
    texts = [" ".join(_word(k * 18 + j, "c") for j in range(40))
             for k in range(chain_docs(n))]
    b = 0
    while len(texts) < n:
        length = 10 + (b * 37) % 91
        base = vocab[rng.choice(len(vocab), length, p=weights)]
        texts.append(" ".join(base))
        copies = 1 + (b // 25) % 4 if b % 25 == 0 else 0
        for _ in range(min(copies, n - len(texts))):
            copy = base.copy()
            edits = rng.choice(length, max(1, length // 20), replace=False)
            copy[edits] = vocab[rng.integers(0, len(vocab), len(edits))]
            texts.append(" ".join(copy))
        b += 1
    return texts


def gen_documents(rng, out_dir, scale):
    n = _rows("documents", scale)
    texts = _documents(rng, n)
    # the chain's ids are one fixed permutation: connected components'
    # round count depends on how ids lie along the chain, and it must not
    # change with the seed; every other document gets a seeded random id
    n_chain = chain_docs(n)
    chain_ids = np.random.default_rng(0).permutation(n)[:n_chain]
    ids = np.concatenate([chain_ids, rng.permutation(
        np.setdiff1d(np.arange(n), chain_ids))])
    by_id = [""] * n
    for i, t in zip(ids, texts):
        by_id[i] = t
    texts = by_id
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


GENERATORS = {"region": gen_region, "nation": gen_nation,
              "customer": gen_customer, "supplier": gen_supplier,
              "orders": gen_orders, "lineitem": gen_lineitem,
              "events": gen_events, "documents": gen_documents}
TABLES = tuple(GENERATORS)


def generate(out_dir: str, seed: int, tables=TABLES,
             scale: float = SCALE) -> dict[str, dict]:
    """Write ``tables`` to ``out_dir``; returns {table: {rows, bytes}}.
    Each table draws from its own stream of the seed, so the tables a
    workload asks for do not change with the others it leaves out."""
    os.makedirs(out_dir, exist_ok=True)
    info = {}
    for idx, name in enumerate(TABLES):
        if name not in tables:
            continue
        rng = np.random.default_rng([seed, idx])
        GENERATORS[name](rng, out_dir, scale)
        path = os.path.join(out_dir, f"{name}.parquet")
        info[name] = {"rows": pq.ParquetFile(path).metadata.num_rows,
                      "bytes": os.path.getsize(path)}
    return info

