"""Compare a generated input tree with a reference tree.

Usage (from the repository root):

    python3 perfbench/compare_tree.py REFERENCE_DIR --seed 42

Generates (or reuses) the tree ``datagen`` writes for ``--seed`` and
prints three Markdown tables, reference next to generated: per-column
statistics of every table, the structure the catalog's joins and
near-duplicate entries depend on, and the output row count of each
workload entry's DuckDB oracle. ``REFERENCE_DIR`` holds the ten catalog
tables as ``<name>.parquet``. The benchmark itself never reads it.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / "perfbench" / ".work"
sys.path.insert(0, str(ROOT))

from perfbench import datagen, workloads  # noqa: E402

#: Structure the catalog's entries are sensitive to, as DuckDB queries
#: over the ten tables; each returns one value.
STRUCTURE = {
    "lines per order, mean": "SELECT avg(c) FROM (SELECT count(*) c FROM lineitem GROUP BY l_orderkey)",
    "lines per order, max": "SELECT max(c) FROM (SELECT count(*) c FROM lineitem GROUP BY l_orderkey)",
    "orders without lines": "SELECT count(*) FROM orders WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)",
    "orders per customer, max": "SELECT max(c) FROM (SELECT count(*) c FROM orders GROUP BY o_custkey)",
    "lines with l_discount 0": "SELECT count(*) FROM lineitem WHERE l_discount = 0",
    "lines with l_tax 0": "SELECT count(*) FROM lineitem WHERE l_tax = 0",
    "shipdate - orderdate, mean days": "SELECT avg(date_diff('day', o_orderdate, l_shipdate)) FROM lineitem JOIN orders ON l_orderkey = o_orderkey",
    "events per user, mean": "SELECT avg(c) FROM (SELECT count(*) c FROM events GROUP BY user_id)",
    "events per user, max": "SELECT max(c) FROM (SELECT count(*) c FROM events GROUP BY user_id)",
    "events with value < 1": "SELECT count(*) FROM events WHERE value < 1",
    "ts out of event_id order": "SELECT count(*) FROM (SELECT ts < lag(ts) OVER (ORDER BY event_id) o FROM events) WHERE o",
    "words per document, mean": "SELECT avg(len(string_split(text, ' '))) FROM documents",
    "words per document, max": "SELECT max(len(string_split(text, ' '))) FROM documents",
    "distinct words": "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)",
    "documents ending in ' dup'": "SELECT count(*) FROM documents WHERE text LIKE '% dup'",
    "documents ending in ' dup dup'": "SELECT count(*) FROM documents WHERE text LIKE '% dup dup'",
    "' dup' documents whose base is present": "SELECT count(*) FROM documents d WHERE text LIKE '% dup' AND EXISTS (SELECT 1 FROM documents b WHERE b.text = left(d.text, length(d.text) - 4))",
    "exact duplicate documents": "SELECT count(*) - count(DISTINCT text) FROM documents",
}


def _embedding_structure(tree: Path) -> dict[str, float]:
    t = pq.read_table(tree / "embeddings.parquet")
    e = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)
    label = t.column("label").to_numpy()
    sims = e @ e.T
    iu = np.triu_indices(len(e), 1)
    same = (label[:, None] == label[None, :])[iu]
    s = sims[iu]
    return {
        "embedding cosine, same label, mean": float(s[same].mean()),
        "embedding cosine, other label, mean": float(s[~same].mean()),
        "embedding pairs with cosine >= 0.35": float((s >= 0.35).sum()),
        "embedding label centre norm, mean": float(np.mean([
            np.linalg.norm(e[label == k].mean(0)) for k in np.unique(label)])),
    }


def _connect(tree: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tree / t}.parquet'")
    return con


def column_stats(tree: Path) -> dict[tuple[str, str], str]:
    con = _connect(tree)
    out = {}
    for t in datagen.TABLES:
        rel = con.table(t)
        for col, typ in zip(rel.columns, map(str, rel.types)):
            if typ.endswith("[]"):
                r = con.execute(f"SELECT count(*), min(len({col})), max(len({col})) FROM {t}").fetchone()
                out[t, col] = f"{r[0]} rows, length {r[1]}-{r[2]}"
            elif typ == "VARCHAR":
                r = con.execute(f"SELECT count(DISTINCT {col}), avg(length({col})), "
                                f"min(length({col})), max(length({col})) FROM {t}").fetchone()
                out[t, col] = f"{r[0]} distinct, length {r[2]}-{r[3]} (mean {r[1]:.2f})"
            elif typ.startswith("TIMESTAMP"):
                r = con.execute(f"SELECT count(DISTINCT {col}), min({col}), max({col}) FROM {t}").fetchone()
                out[t, col] = f"{r[0]} distinct, {r[1]:%Y-%m-%d} to {r[2]:%Y-%m-%d}"
            else:
                r = con.execute(f"SELECT count(DISTINCT {col}), min({col}), max({col}), "
                                f"avg({col}::DOUBLE), stddev({col}::DOUBLE) FROM {t}").fetchone()
                out[t, col] = f"{r[0]} distinct, {r[1]:g} to {r[2]:g}, mean {r[3]:.4g}, sd {r[4]:.4g}"
    con.close()
    return out


def structure(tree: Path) -> dict[str, float]:
    con = _connect(tree)
    out = {k: float(con.execute(q).fetchone()[0]) for k, q in STRUCTURE.items()}
    con.close()
    out.update(_embedding_structure(tree))
    return out


def oracle_rows(tree: Path, names: list[str]) -> dict[str, int]:
    from hebrew_tutor_data_pipeline_spark.plans import CATALOG

    con = _connect(tree)
    out = {n: len(con.execute(CATALOG[n].oracle).fetchall()) for n in names}
    con.close()
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("reference", type=Path)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()
    gen = datagen.ensure_tree(WORK / "data", args.seed)
    ref = args.reference
    print(f"reference: {ref}\ngenerated: seed {args.seed}\n")

    print("| table | column | reference | generated |\n| --- | --- | --- | --- |")
    a, b = column_stats(ref), column_stats(gen)
    for (t, c), v in a.items():
        print(f"| {t} | `{c}` | {v} | {b.get((t, c), 'missing')} |")

    print("\n| structure | reference | generated |\n| --- | --- | --- |")
    a, b = structure(ref), structure(gen)
    for k, v in a.items():
        print(f"| {k} | {v:.4g} | {b[k]:.4g} |")

    names = list(dict.fromkeys(n for w in workloads.WORKLOADS.values() for n, _ in w.entries))
    print("\n| entry | oracle rows, reference | oracle rows, generated |\n| --- | --- | --- |")
    a, b = oracle_rows(ref, names), oracle_rows(gen, names)
    for n in names:
        print(f"| `{n}` | {a[n]} | {b[n]} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
