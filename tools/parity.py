"""Local mirror of the driver's correctness gate: run every catalog
query on Spark AND its DuckDB oracle at a given sf, compare row count,
column names, and an order-insensitive value hash.

Usage: python tools/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# DuckDB output types the driver's canonicalizer renders differently from
# any Spark output type — an oracle emitting one of these can be locally
# hash-green (str() erases the distinction) yet fail the driver gate.
# r7 lost 5 rows to exactly this: bare integer sum() → HUGEINT (int128)
# and to_timestamp(double) → TIMESTAMP WITH TIME ZONE. Ban them outright.
BANNED_DUCK_TYPES = (
    "HUGEINT",
    "UHUGEINT",
    "DECIMAL",
    "TIMESTAMP WITH TIME ZONE",
)


def oracle_output_types(con, sql: str) -> dict[str, str]:
    """Bind (don't execute) an oracle; return {column: duckdb type}."""
    rel = con.sql(sql)
    return {c: str(t) for c, t in zip(rel.columns, rel.types)}


def banned_type_problems(duck_types: dict[str, str]) -> list[str]:
    """Banned-output-type diagnostics from a bound type map,
    e.g. ['n_events:HUGEINT']. Empty list = clean."""
    return [
        f"{col}:{t}"
        for col, t in duck_types.items()
        if any(b in t for b in BANNED_DUCK_TYPES)
    ]


def oracle_type_problems(con, sql: str) -> list[str]:
    """Bind an oracle and return banned-output-type diagnostics."""
    return banned_type_problems(oracle_output_types(con, sql))


# DuckDB type string → coarse value family, matched against Spark dtypes.
# A family mismatch means norm_cell/the driver canonicalizer will render
# the same value differently ('5' vs '5.0'), i.e. a guaranteed hash
# divergence — catch it at bind time instead of hash time.
def _duck_family(t: str) -> str:
    t = t.upper()
    if t.endswith("[]") or t.startswith(("STRUCT", "MAP", "UNION")):
        return "nested"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE", "REAL") or t.startswith("DECIMAL"):
        return "float"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "DATE":
        return "date"
    if t == "BOOLEAN":
        return "bool"
    if t == "BLOB":
        return "binary"
    return "str"


def _spark_family(t: str) -> str:
    t = t.lower()
    if t.startswith(("array", "map", "struct")):
        return "nested"
    if t in ("tinyint", "smallint", "int", "bigint", "long"):
        return "int"
    if t in ("float", "double") or t.startswith("decimal"):
        return "float"
    if t.startswith("timestamp"):
        return "timestamp"
    if t == "date":
        return "date"
    if t == "boolean":
        return "bool"
    if t == "binary":
        return "binary"
    return "str"


def type_family_problems(
    spark_dtypes: list[tuple[str, str]], duck_types: dict[str, str]
) -> list[str]:
    """Compare Spark output dtypes against the oracle's DuckDB types by
    value family; return diagnostics for any divergence."""
    probs = []
    for col, st in spark_dtypes:
        dt = duck_types.get(col)
        if dt is None:
            continue  # name mismatch is reported separately
        sf, df_ = _spark_family(st), _duck_family(dt)
        if sf != df_:
            probs.append(f"{col}: spark {st}({sf}) vs duckdb {dt}({df_})")
    return probs


def norm_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # Exact float repr — the driver's canonicalizer does NOT round,
        # so local rounding here would mask real cross-engine drift
        # (it hid the round-1 user_sessions_30min hash failure).
        # Only collapse -0.0, which both engines may emit for a zero sum.
        if v == 0.0:
            return "0.0"
        return repr(v)
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def table_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


#: One session must survive a full sweep at ANY sf (VERDICT r11 next #5):
#: the r11 sf1 sweep lost its Spark session to a driver-side broadcast
#: store failure while collecting simhash_hamming_pairs' quadratic
#: answer, and this round's first cut measured the OTHER failure mode —
#: a 15M-row streaming interval-join answer that collects fine but then
#: sits in pure-Python norm_cell/md5 hashing for over an hour. So the
#: gate is TIERED by answer size, counted FIRST (a count() job is the
#: cheap part — even the quadratic answers count in ~20 s at sf1):
#:   ≤ ROW_CAP rows   → the full value-hash gate, as always;
#:   >  ROW_CAP rows   → rowcount + schema + bind-level dtype compare
#:                       ("rows~" lines) — the answer's VALUES stay
#:                       pinned at the lower SFs where they fit, and
#:                       the artifact says so per entry, self-described.
#: Neither tier ever OOMs the session: nothing bigger than ROW_CAP is
#: ever collected or fetched.
ROW_CAP = 2_000_000


#: Per-oracle wall cap. Some oracles are CHEAP on Spark but quadratic in
#: DuckDB's execution at sf ≥ 1 (correlated-subquery as-of joins are the
#: canonical case: fine at the sf0.01 driver gate, an open-ended grind on
#: 100× the rows). A watchdog interrupts the oracle past the cap and the
#: entry records a self-adjudicating "rows!" degrade line (spark rows +
#: schema stand; values pinned at the lower SFs) instead of stalling the
#: sweep for hours — the bound keeps a full-catalog sweep's worst case at
#: minutes per pathological oracle, unconditionally.
ORACLE_TIMEOUT_S = 600


def _oracle_exec(con, sql: str, fetch, timeout_s: float):
    """Execute an oracle under the watchdog. Returns (result, None) on
    success or (None, 'timeout') when the watchdog interrupted it; other
    exceptions propagate to the caller's error handling.

    Each oracle runs on a DEDICATED cursor (``con.cursor()`` — a child
    connection to the same in-memory catalog, so the registered views
    resolve), and the watchdog interrupts only that cursor. This closes
    the ADVICE r12 race on the previous shared-connection form: a query
    finishing right at the timeout could take a ``con.interrupt()``
    AFTER its fetch returned but before ``done.set()``, leaving a
    pending interrupt that spuriously aborted the NEXT bind/oracle.
    With a per-oracle cursor a stray interrupt dies with the cursor."""
    import threading

    cur = con.cursor()
    done = threading.Event()

    def watchdog():
        if not done.wait(timeout_s) and not done.is_set():
            cur.interrupt()

    threading.Thread(target=watchdog, daemon=True).start()
    try:
        out = fetch(cur.execute(sql))
        done.set()
        return out, None
    except duckdb.InterruptException:
        return None, "timeout"
    finally:
        done.set()
        cur.close()


def main() -> int:
    import os

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    row_cap = int(os.environ.get("PARITY_ROW_CAP", str(ROW_CAP)))
    oracle_timeout = float(
        os.environ.get("PARITY_ORACLE_TIMEOUT", str(ORACLE_TIMEOUT_S))
    )

    import bench
    from hebrew_tutor_data_pipeline_spark.plans import CATALOG
    from hebrew_tutor_data_pipeline_spark.session import get_spark, release_pins

    sf = bench.sf_of(sf_dir)
    spark = get_spark("parity")
    con = duckdb.connect()
    for t in TABLES:
        # a table may be a single file (driver testdata) or a directory
        # of part files (the generated scale trees) — glob the latter
        p = Path(sf_dir) / f"{t}.parquet"
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    failures = []
    skipped = []
    oracle_timeouts = []
    for name, spec in CATALOG.items():
        if only and name not in only:
            continue
        # Honor bench.py's scale-tier skip list above its SF (VERDICT
        # r11 next #5) — the adjudicated-to-die truth arms stay out of
        # full sweeps at scale; naming a query explicitly overrides,
        # same contract as bench.py.
        lim = bench.SCALE_TIER_SKIPS.get(name)
        if lim is not None and sf >= lim[0] and name not in only:
            skipped.append(name)
            print(f"skip  {name}: scale-tier skip at sf{sf:g} — {lim[1]}")
            continue
        t0 = time.time()
        try:
            sdf = spec.spark(spark, sf_dir)
            scols = sdf.columns
            n_spark = sdf.count()
            # values only for answers under the cap; the rowcount tier
            # below checks the count and schema
            if n_spark <= row_cap:
                srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            continue
        finally:
            release_pins()
        if n_spark > row_cap:
            # rowcount-only tier: values for this answer are pinned at
            # the SFs where it fits under the cap
            problems = []
            if spec.oracle is None:
                print(
                    f"rows  {name}: {n_spark} rows (> value cap) "
                    f"({time.time()-t0:.1f}s) [no oracle]"
                )
                continue
            try:
                counted, tmo = _oracle_exec(
                    con,
                    f"SELECT count(*) FROM ({spec.oracle})",
                    lambda cur: cur.fetchone()[0],
                    oracle_timeout,
                )
                duck_types = oracle_output_types(con, spec.oracle)
            except Exception as e:
                failures.append(name)
                print(f"FAIL  {name}: oracle error: {str(e)[:300]}")
                continue
            if tmo:
                oracle_timeouts.append(name)
                print(
                    f"rows! {name}: spark {n_spark} rows, schema checked; "
                    f"ORACLE count interrupted past {oracle_timeout:.0f}s "
                    f"(quadratic oracle execution at this sf — values "
                    f"pinned at lower SFs) ({time.time()-t0:.1f}s)"
                )
                continue
            n_oracle = counted
            if n_spark != n_oracle:
                problems.append(f"rowcount {n_spark} vs {n_oracle}")
            if sorted(scols) != sorted(duck_types):
                problems.append(
                    f"cols {sorted(scols)} vs {sorted(duck_types)}"
                )
            banned = banned_type_problems(duck_types)
            if banned:
                problems.append(f"banned oracle dtypes {banned}")
            fam = type_family_problems(sdf.dtypes, duck_types)
            if fam:
                problems.append(f"dtype family mismatch {fam}")
            if problems:
                failures.append(name)
                print(
                    f"FAIL  {name}: {'; '.join(problems)} "
                    f"({time.time()-t0:.1f}s)"
                )
            else:
                print(
                    f"rows~ {name}: {n_spark} rows — rowcount+schema only "
                    f"(answer > PARITY_ROW_CAP={row_cap}; values pinned at "
                    f"lower SFs) ({time.time()-t0:.1f}s)"
                )
            continue
        if spec.oracle is None:
            print(
                f"rows  {name}: {len(srows)} rows, cols={scols}"
                f" ({time.time()-t0:.1f}s) [no oracle]"
            )
            continue
        try:
            fetched, tmo = _oracle_exec(
                con,
                spec.oracle,
                # same bounded fetch on the oracle side: a quadratic
                # oracle answer must not OOM the process either
                lambda cur: ([d[0] for d in cur.description], cur.fetchmany(row_cap + 1)),
                oracle_timeout,
            )
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: oracle error: {str(e)[:300]}")
            continue
        if tmo:
            oracle_timeouts.append(name)
            print(
                f"rows! {name}: spark {n_spark} rows; ORACLE interrupted "
                f"past {oracle_timeout:.0f}s (quadratic oracle execution "
                f"at this sf — values pinned at lower SFs) "
                f"({time.time()-t0:.1f}s)"
            )
            continue
        ocols, orows = fetched
        if len(orows) > row_cap:
            failures.append(name)
            print(
                f"FAIL  {name}: oracle answer exceeds PARITY_ROW_CAP="
                f"{row_cap} rows ({time.time()-t0:.1f}s)"
            )
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        try:
            duck_types = oracle_output_types(con, spec.oracle)  # one bind
            banned = banned_type_problems(duck_types)
            if banned:
                problems.append(f"banned oracle dtypes {banned}")
            fam = type_family_problems(sdf.dtypes, duck_types)
            if fam:
                problems.append(f"dtype family mismatch {fam}")
        except Exception as e:  # binding failure — surface, don't mask
            problems.append(f"dtype check error: {str(e)[:200]}")
        if not problems:
            sh, oh = table_hash(srows, scols), table_hash(orows, ocols)
            if sh != oh:
                problems.append("value-hash mismatch")
                # show a sample difference
                sset = {tuple(norm_cell(c) for c in r) for r in srows}
                oset = {tuple(norm_cell(c) for c in r) for r in orows}
                for d in list(sset - oset)[:2]:
                    print(f"      spark-only: {d}")
                for d in list(oset - sset)[:2]:
                    print(f"      oracle-only: {d}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)} ({time.time()-t0:.1f}s)")
        else:
            print(f"ok    {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")

    if skipped:
        print(f"\n{len(skipped)} scale-tier skip(s): {skipped}")
    if oracle_timeouts:
        print(
            f"\n{len(oracle_timeouts)} oracle timeout(s) past "
            f"{oracle_timeout:.0f}s (rows+schema checked, values pinned "
            f"at lower SFs): {oracle_timeouts}"
        )
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    # A 'rows!' entry is only safe because its VALUES are pinned at a
    # lower SF; an oracle that times out at EVERY value-checkable SF
    # would never be value-gated anywhere (ADVICE r12). Gate runs that
    # must prove value coverage set PARITY_FAIL_ON_TIMEOUT=1 so the
    # sweep's exit status surfaces timeouts instead of absorbing them.
    if oracle_timeouts and os.environ.get("PARITY_FAIL_ON_TIMEOUT"):
        print(
            f"exit 1: PARITY_FAIL_ON_TIMEOUT set and {len(oracle_timeouts)} "
            f"oracle(s) were never value-checked this run: {oracle_timeouts}"
        )
        return 1
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
