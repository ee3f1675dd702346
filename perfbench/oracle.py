"""Expected results from each entry's DuckDB oracle, cached per tree.

Rows are digested with ``tools/parity.py``'s ``norm_cell``/``table_hash``,
the same order-insensitive value hash the catalog's correctness gate uses.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "tools"))

import parity  # noqa: E402


def digest(rows: list[tuple], cols: list[str]) -> dict:
    return {"cols": sorted(cols), "rows": len(rows), "hash": parity.table_hash(rows, cols)}


def mismatch(expected: dict, rows: list[tuple], cols: list[str]) -> str | None:
    """Why ``rows`` differ from the oracle's digest, or None when they match."""
    got = digest(rows, cols)
    if got["cols"] != expected["cols"]:
        return f"columns {got['cols']} != oracle {expected['cols']}"
    if got["rows"] != expected["rows"]:
        return f"{got['rows']} rows != oracle {expected['rows']}"
    if got["hash"] != expected["hash"]:
        return "value hash differs from oracle"
    return None


def _key(name: str, sql: str) -> str:
    """Cache key of an entry's oracle: its name and a digest of its SQL,
    so a changed oracle is computed again."""
    return f"{name}@{hashlib.sha256(sql.encode()).hexdigest()[:12]}"


def expected(tree: Path, names: list[str], cache_path: Path | None) -> dict[str, dict]:
    """Oracle digests for ``names`` on ``tree``, kept in ``cache_path``
    (when given) so each is computed once per tree."""
    import duckdb

    from hebrew_tutor_data_pipeline_spark.plans import CATALOG

    keys = {n: _key(n, CATALOG[n].oracle) for n in names}
    cache = json.loads(cache_path.read_text()) if cache_path and cache_path.exists() else {}
    missing = [n for n in names if keys[n] not in cache]
    if missing:
        con = duckdb.connect()
        try:
            for t in parity.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tree / t}.parquet'")
            for name in missing:
                cur = con.execute(CATALOG[name].oracle)
                cols = [d[0] for d in cur.description]
                cache[keys[name]] = digest(cur.fetchall(), cols)
        finally:
            con.close()
        if cache_path is not None:
            tmp = cache_path.with_suffix(".tmp")
            tmp.write_text(json.dumps(cache, indent=1, sort_keys=True) + "\n")
            os.replace(tmp, cache_path)
    return {n: cache[keys[n]] for n in names}
