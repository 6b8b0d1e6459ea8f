"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and, where an oracle
exists, the matching ``oracle_sql()`` in DuckDB against the same parquet
tables, then compares through the SAME canonicalization the driver uses:
both results become pandas DataFrames (Spark ``toPandas()`` / DuckDB
``.df()``), columns sorted by name, rows sorted by every column, and values
compared **dtype-sensitively** (``Series.equals`` — int64 vs float64 is a
mismatch even when the printed values agree).

That dtype sensitivity is the point: round 1 shipped 4 oracles whose DuckDB
``SUM(BIGINT)`` came back HUGEINT → float64 in pandas while Spark returned
int64 — the driver flagged them but the old ``fetchall()``-based gate (exact
Python ints both sides) could not. This gate reproduces the driver's verdict
before shipping.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """The driver's canonical form: columns sorted by name, rows sorted by
    every column. Raises (like the driver does) on unhashable cell types —
    array-typed result columns are a shipping bug, not a gate bug. The
    probe hash matters: a SINGLE-column frame of lists sorts fine and only
    explodes at the driver's hash step, so sorting alone under-detects."""
    pdf = pdf[sorted(pdf.columns)]
    # normalize datetime units (ns vs us is an Arrow transport detail, not a
    # semantic difference; values compare equal after unifying)
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64"):
            pdf[c] = pdf[c].astype("datetime64[us]")
    if len(pdf):
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort")
    pdf = pdf.reset_index(drop=True)
    pd.util.hash_pandas_object(pdf, index=False)  # probe: driver's hash path
    return pdf


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"schema: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount: spark={len(spark_pdf)} duck={len(duck_pdf)}")
        return problems
    try:
        a = canon(spark_pdf)
    except TypeError as exc:
        problems.append(f"spark result not canonicalizable (driver would ERR): {exc}")
        return problems
    try:
        b = canon(duck_pdf)
    except TypeError as exc:
        problems.append(f"oracle result not canonicalizable (driver would ERR): {exc}")
        return problems
    # The driver's hard signal: pandas value hashing. hash_pandas_object is
    # integer-WIDTH insensitive (int32 1 == int64 1 — driver-verified: r1
    # passed orders_rank_in_customer whose rn is int32-vs-int64) but
    # int-vs-FLOAT sensitive (1 != 1.0 — the r1 HUGEINT failures).
    ha = pd.util.hash_pandas_object(a, index=False)
    hb = pd.util.hash_pandas_object(b, index=False)
    if ha.equals(hb):
        return problems
    # hash mismatch → column-wise diagnostics
    for c in a.columns:
        if pd.util.hash_pandas_object(a[c], index=False).equals(
            pd.util.hash_pandas_object(b[c], index=False)
        ):
            continue
        if str(a[c].dtype) != str(b[c].dtype):
            problems.append(f"dtype[{c}]: spark={a[c].dtype} duck={b[c].dtype}")
            continue
        neq = ~((a[c] == b[c]) | (a[c].isna() & b[c].isna()))
        idx = neq[neq].index
        va, vb = (a[c].iloc[idx[0]], b[c].iloc[idx[0]]) if len(idx) else (None, None)
        closeish = (
            isinstance(va, float)
            and isinstance(vb, float)
            and math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-12)
        )
        problems.append(
            f"values[{c}]: {len(idx)}/{len(a)} differ; "
            f"first={va!r} vs {vb!r} ({'close' if closeish else 'FAR'})"
        )
    if not problems:
        problems.append("hash: frame hashes differ (row-alignment artifact?)")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from polars_numba_spark import get_spark

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = sorted(only - set(queries))
    if unknown:
        raise SystemExit(f"not in catalog: {unknown}")

    spark = get_spark(app_name="oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(sf_dir)

    failures = 0
    for pos, (name, fn) in enumerate(queries.items(), 1):
        if only and name not in only:
            continue
        slot = "slot%02d" % pos if pos <= 50 else "unwatched"
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name} [{slot}]: spark error: {exc}")
            failures += 1
            continue
        if name not in oracles:
            try:
                canon(spark_pdf)
                note = ""
            except TypeError as exc:
                note = f"  (WARN not canonicalizable: {exc})"
                failures += 1
            print(f"ok    {name} [{slot}]: {len(spark_pdf)} rows (rows-only) "
                  f"[{time.time()-t0:.1f}s]{note}")
            if len(spark_pdf) == 0:
                print(f"WARN  {name}: zero rows")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name} [{slot}]: duckdb error: {exc}")
            failures += 1
            continue
        try:
            problems = compare(name, spark_pdf, duck_pdf)
        except Exception as exc:  # noqa: BLE001 — one bad query must not abort the run
            problems = [f"compare error (driver would ERR): {exc}"]
        if problems:
            failures += 1
            print(f"FAIL  {name} [{slot}]: " + "; ".join(problems))
        else:
            print(f"ok    {name} [{slot}]: {len(spark_pdf)} rows match oracle "
                  f"[{time.time()-t0:.1f}s]")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
