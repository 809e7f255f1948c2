"""Seeded input generation for the benchmark.

Every input the program sees is made here from ``--seed``: the
TPC-H-shaped star schema, the ``events`` stream table, the documents
corpus and its 10x scale-up, and the per-pass operation order.  The
same seed gives byte-identical parquet files (pyarrow writes no
timestamp or host name into the footer).

The tables copy the shapes of the package's sf0.1 fixtures, column by
column: one row group per file, SNAPPY, naive ``timestamp[us]``
columns, independent uniform keys and values, ``events.ts`` an
increasing arrival process over 30 days, and documents of 10..100
words over a 30-word vocabulary where 5% of the documents are another
document's text plus the token ``dup`` (the near-duplicate structure
the dedup queries look for).  Row counts scale with ``sf``
the way the fixtures do (lineitem = 6,000,000 x sf).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

IMPORT_TABLES = ("lineitem", "orders", "events", "documents")

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DUP_SHARE = 0.05
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "shiny")
PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "anvil", "rod", "pipe")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_DAY_US = 86_400_000_000


def _rng(seed: int, *salt: str) -> np.random.Generator:
    """Independent stream per (seed, table): adding a table or a
    column to one generator never shifts another table's values."""
    digest = hashlib.sha256(f"{seed}|{'|'.join(salt)}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(digest[:16], "little")))


def _days(start: dt.date, offsets: np.ndarray) -> pa.Array:
    base = (start - dt.date(1970, 1, 1)).days * _DAY_US
    return pa.array(base + offsets.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The star schema plus ``events`` at scale factor ``sf``."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _choice(r, SEGMENTS, n_cust),
    })
    r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp)),
    })
    r = _rng(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": _choice(r, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
        "p_type": _choice(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array((9000 + keys % 1000) / 10.0),
    })
    r = _rng(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _choice(r, ("F", "O", "P"), n_ord),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _days(dt.date(1995, 1, 1), r.integers(0, 2405, n_ord)),
        "o_orderpriority": _choice(r, PRIORITIES, n_ord),
    })
    r = _rng(seed, "lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(r.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(_money(r, 0.0, 0.1, n_li)),
        "l_tax": pa.array(_money(r, 0.0, 0.08, n_li)),
        "l_returnflag": _choice(r, ("A", "N", "R"), n_li),
        "l_linestatus": _choice(r, ("F", "O"), n_li),
        "l_shipdate": _days(dt.date(1995, 1, 2), r.integers(0, 2499, n_li)),
    })
    r = _rng(seed, "events")
    start_us = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * _DAY_US
    gaps = r.exponential(30 * _DAY_US / max(n_ev, 1), n_ev)
    ts = start_us + np.floor(np.cumsum(gaps)).astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(int(15_000 * sf), 1), n_ev, dtype=np.int64)),
        "event_type": _choice(r, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(r.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]),
    })
    out["documents"] = make_documents(int(50_000 * sf), seed)
    return out


def make_documents(n: int, seed: int) -> pa.Table:
    """``n`` documents: 10..100 uniform words, 5% near-duplicates."""
    r = _rng(seed, "documents")
    lens = r.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)[r.integers(0, len(VOCAB), int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    dups = np.sort(r.choice(n, int(n * DUP_SHARE), replace=False))
    for i in dups:
        src = int(r.integers(0, n - 1))
        src += src >= i  # any other document
        texts[i] = texts[src] + " dup"
    return _documents_table(
        np.arange(n, dtype=np.int64),
        texts,
        _choice(r, LANGS, n, p=LANG_P).to_pylist(),
        [f"src{i % 20}" for i in range(n)],
    )


def _documents_table(ids, texts, langs, sources) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def scale_corpus(base: pa.Table, shards: int, seed: int) -> pa.Table:
    """The 10x construction of ``scripts/scale_evidence.py``: shard 0
    is the base corpus, shard c > 0 appends a seed-chosen suffix to
    every space-separated token (a vocabulary disjoint from every
    other shard, so near-dup clusters never merge across shards) and
    offsets doc ids by c * N.  Per-document statistics and the
    near-dup structure of each shard are those of the base.  The seed
    also permutes the document order of the result."""
    r = _rng(seed, "corpus", str(shards))
    suffixes = [str(s) for s in r.choice(np.arange(1, 100), shards - 1, replace=False)]
    n = base.num_rows
    ids = base.column("doc_id").to_numpy()
    text = base.column("text").to_pylist()
    lang = base.column("lang").to_pylist()
    source = base.column("source").to_pylist()
    all_ids, all_text = [ids], list(text)
    for c, suffix in enumerate(suffixes, start=1):
        all_ids.append(ids + c * n)
        all_text.extend(" ".join(w + suffix for w in t.split(" ")) for t in text)
    order = r.permutation(n * shards)
    flat_ids = np.concatenate(all_ids)[order]
    return _documents_table(
        flat_ids,
        [all_text[i] for i in order],
        [lang[i % n] for i in order],
        [source[i % n] for i in order],
    )


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def op_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    """The seed-determined order of one pass's operations."""
    r = _rng(seed, "order", str(pass_no))
    return [names[i] for i in r.permutation(len(names))]


def dir_digest(path: str) -> str:
    """sha256 over every file name and byte under ``path``."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
