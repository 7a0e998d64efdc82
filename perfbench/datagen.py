"""Deterministic TPC-H-style input tables for the benchmark.

The tables have the schemas the package's sources expect (region, nation,
customer, supplier, part, orders, lineitem, documents), and the constants
below follow the repository's sf0.1 test data (table sizes, mean lines per
order, date range, language shares, duplicate shares, vocabulary), so every
plan, KPI and curation stage runs on data shaped like the data it was
written for. ``perfbench/README.md`` lists each constant beside the sf0.1
figure it was taken from.

The generator uses its own fixed seed: the benchmark's ``--seed`` never
changes the inputs, so two runs (and two commits) read byte-identical files.

Differences from the test data, on purpose:

- ``(l_orderkey, l_linenumber)`` is unique (each order has lines 1..n), so the
  fact key ``id_venda`` is a real key and a keyed upsert has one row per key;
- lines per order are uniform in 1..7 (the test data: 1..17, the same mean
  of about 4).

As in the test data, lineitem rows are shuffled and order keys are
independent of order dates.

Pure numpy/pyarrow: no Spark, no network.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20260417
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "red", "small", "cold", "green", "dark"]
PART_NOUN = ["ring", "bolt", "gear", "pipe", "nut", "valve", "plate", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
#: the test data's document vocabulary: 28 topic words plus the English
#: stopwords "the" and "a", which make most documents classify as English
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row agg key query "
    "scan batch the a"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
N_SOURCES = 20
DATE_LO = dt.date(1995, 1, 1)
DATE_HI = dt.date(2001, 8, 1)
#: share of documents that are near-copies of an earlier one ("... dup"),
#: and share that are exact copies
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.002


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated input set."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    documents: int

    @classmethod
    def sf(cls, sf: float) -> "Scale":
        """TPC-H-proportioned sizes; ``sf=0.1`` matches the sf0.1 test data
        (150k orders, ~600k lineitems, 5k documents)."""
        return cls(
            customers=int(150_000 * sf),
            suppliers=int(10_000 * sf),
            parts=int(200_000 * sf),
            orders=int(1_500_000 * sf),
            documents=int(50_000 * sf),
        )


def _micros(days: np.ndarray) -> pa.Array:
    epoch = (DATE_LO - dt.date(1970, 1, 1)).days
    return pa.array((days + epoch).astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    lengths = rng.integers(8, 96, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    # planted duplicates copy an EARLIER document, so keep-first dedup is
    # well defined; near-copies drop a short tail and add a marker word
    kind = rng.random(n)
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in range(1, n):
        if kind[i] < EXACT_DUP_SHARE:
            texts[i] = texts[src[i]]
        elif kind[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            toks = texts[src[i]].split(" ")
            texts[i] = " ".join(toks[: max(1, len(toks) - int(rng.integers(0, 3)))] + ["dup"])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def build_tables(scale: Scale) -> dict[str, pa.Table]:
    """All input tables for ``scale``, deterministic in ``DATA_SEED``."""
    rng = np.random.default_rng(DATA_SEED)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table(
        {
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32(np.arange(25) % 5),
        }
    )
    c = scale.customers
    out["customer"] = pa.table(
        {
            "c_custkey": i64(range(c)),
            "c_name": _names("Customer", c),
            "c_nationkey": i32(rng.integers(0, 25, c)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, c)]),
        }
    )
    s = scale.suppliers
    out["supplier"] = pa.table(
        {
            "s_suppkey": i64(range(s)),
            "s_name": _names("Supplier", s),
            "s_nationkey": i32(rng.integers(0, 25, s)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s)),
        }
    )
    p = scale.parts
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    retail = np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2)
    out["part"] = pa.table(
        {
            "p_partkey": i64(range(p)),
            "p_name": pa.array(names[rng.integers(0, len(names), p)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), p)]),
            "p_size": i32(rng.integers(1, 51, p)),
            "p_retailprice": pa.array(retail),
        }
    )
    o = scale.orders
    span = (DATE_HI - DATE_LO).days + 1
    odays = rng.integers(0, span, o)
    out["orders"] = pa.table(
        {
            "o_orderkey": i64(range(o)),
            "o_custkey": i64(rng.integers(0, c, o)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, o)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, o)),
            "o_orderdate": _micros(odays),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, o)]),
        }
    )
    lines = rng.integers(1, 8, o)
    okey = np.repeat(np.arange(o, dtype=np.int64), lines)
    n = len(okey)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = np.arange(n) - first + 1
    partkey = rng.integers(0, p, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    perm = rng.permutation(n)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": i64(okey),
            "l_partkey": i64(partkey),
            "l_suppkey": i64(rng.integers(0, s, n)),
            "l_linenumber": i32(linenumber),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * retail[partkey], 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": _micros(odays[okey] + rng.integers(1, 122, n)),
        }
    ).take(pa.array(perm))
    out["documents"] = _documents(rng, scale.documents)
    return out


def write_inputs(scale: Scale, out_dir: str) -> dict[str, int]:
    """Write one ``<table>.parquet`` file per table; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def checksum(out_dir: str) -> str:
    """sha256 over the generated files' names and bytes."""
    h = hashlib.sha256()
    for name in TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        h.update(name.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()
