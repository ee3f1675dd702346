"""Seeded input tables for the benchmark.

Writes the ten catalog tables (TPC-H-style star schema, an ``events``
stream table, a text corpus and an embedding table) at the sf0.1 sizes,
with the schemas and the generative process of the catalog's sf0.1
reference tree, as measured from that tree: uniform keys, values and
categories, rounded-uniform discounts and taxes, uniform 10-99-word
documents of which 5% are replaced, in place, by another document's text
plus " dup", and unit-normalised Gaussian embeddings whose label is drawn
independently of the vector. ``compare_tree.py`` prints the
statistics of a generated tree next to those of a reference tree.

Everything is drawn from one ``numpy`` generator seeded with the workload
seed, so the same seed gives byte-identical tables, and a different seed
gives a tree of the same size and shape.

Fixture-backed catalog entries read the committed fixtures, whatever
the seed.
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000
N_VECS = 2_000
EMB_DIM = 64
N_LABELS = 10

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "new", "blue", "old", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
VOCAB = np.array((
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split())
DOC_WORDS = (10, 100)  # words per document, half-open
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
N_NEAR_DUP = N_DOCS // 20  # documents replaced by another's text plus " dup"

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_DAY_US = 86_400 * 1_000_000


def _ts_us(year: int, month: int, day: int) -> int:
    return int(np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "us").astype(np.int64))


def _strings(values: list[str], idx: np.ndarray) -> pa.Array:
    """String column from dictionary codes (fast for low-cardinality text)."""
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(values)
    ).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform prices on the cent grid, as exact 2-dp doubles."""
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, size=n)
    return np.round(cents / 100.0, 2)


def _days(rng: np.random.Generator, start_us: int, end_us: int, n: int) -> pa.Array:
    n_days = (end_us - start_us) // _DAY_US + 1
    return pa.array(start_us + rng.integers(0, n_days, size=n) * _DAY_US, pa.timestamp("us"))


def _documents(rng: np.random.Generator) -> pa.Table:
    lengths = rng.integers(*DOC_WORDS, size=N_DOCS)
    texts = [" ".join(VOCAB[rng.integers(0, len(VOCAB), size=n)]) for n in lengths]
    # in place and in draw order, so a copy can be of an earlier copy
    # ("... dup dup"), and a copied text can itself be replaced later
    for i in rng.choice(N_DOCS, size=N_NEAR_DUP, replace=False):
        j = int(rng.integers(0, N_DOCS - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _strings(LANGS, rng.choice(len(LANGS), size=N_DOCS, p=LANG_P)),
        "source": _strings(
            [f"src{i}" for i in range(N_SOURCES)], rng.integers(0, N_SOURCES, size=N_DOCS)
        ),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    vecs = rng.standard_normal(size=(N_VECS, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, N_LABELS, size=N_VECS)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMB_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(labels.astype(np.int32)),
    })


def generate(out: Path, seed: int) -> None:
    """Write every table of the tree for ``seed`` into ``out``."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    keys = lambda n: pa.array(np.arange(n, dtype=np.int64))  # noqa: E731
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    tables["customer"] = pa.table({
        "c_custkey": keys(N_CUSTOMER),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=N_CUSTOMER).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": _strings(SEGMENTS, rng.integers(0, 5, size=N_CUSTOMER)),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": keys(N_SUPPLIER),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
        "s_nationkey": pa.array(rng.integers(0, 25, size=N_SUPPLIER).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIER)),
    })
    names = [f"{a} {n}" for a in PART_ADJ for n in PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": keys(N_PART),
        "p_name": _strings(names, rng.integers(0, len(names), size=N_PART)),
        "p_brand": _strings([f"Brand#{i}" for i in range(1, 26)], rng.integers(0, 25, size=N_PART)),
        "p_type": _strings(PART_TYPES, rng.integers(0, len(PART_TYPES), size=N_PART)),
        "p_size": pa.array(rng.integers(1, 51, size=N_PART).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 1)),
    })
    tables["orders"] = pa.table({
        "o_orderkey": keys(N_ORDERS),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, size=N_ORDERS)),
        "o_orderstatus": _strings(["F", "O", "P"], rng.integers(0, 3, size=N_ORDERS)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, N_ORDERS)),
        "o_orderdate": _days(rng, _ts_us(1995, 1, 1), _ts_us(2001, 8, 1), N_ORDERS),
        "o_orderpriority": _strings(PRIORITIES, rng.integers(0, 5, size=N_ORDERS)),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, size=N_LINEITEM)),
        "l_partkey": pa.array(rng.integers(0, N_PART, size=N_LINEITEM)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, size=N_LINEITEM)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=N_LINEITEM).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, size=N_LINEITEM).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, N_LINEITEM)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.10, size=N_LINEITEM), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, size=N_LINEITEM), 2)),
        "l_returnflag": _strings(["A", "N", "R"], rng.integers(0, 3, size=N_LINEITEM)),
        "l_linestatus": _strings(["F", "O"], rng.integers(0, 2, size=N_LINEITEM)),
        "l_shipdate": _days(rng, _ts_us(1995, 1, 2), _ts_us(2001, 11, 4), N_LINEITEM),
    })
    start = _ts_us(2024, 1, 1)
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, size=N_EVENTS))
    tables["events"] = pa.table({
        "event_id": keys(N_EVENTS),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, size=N_EVENTS)),
        "event_type": _strings(EVENT_TYPES, rng.integers(0, 5, size=N_EVENTS)),
        "value": pa.array(np.round(rng.exponential(50.0, size=N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=N_EVENTS)]),
    })
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    for name in TABLES:
        tmp = out / f".{name}.parquet.tmp"
        pq.write_table(tables[name], tmp)
        os.replace(tmp, out / f"{name}.parquet")


def source_digest() -> str:
    """Digest of this generator's source: a changed generator writes its
    trees under new names instead of reusing trees of the old one."""
    return hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:12]


def ensure_tree(base: Path, seed: int) -> Path:
    """The tree for ``seed`` under ``base``, generated on first use."""
    tree = base / f"seed{seed}-{source_digest()}"
    done = tree / ".complete"
    if not done.exists():
        generate(tree, seed)
        done.write_text("ok\n")
    return tree
