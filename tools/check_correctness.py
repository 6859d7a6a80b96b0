"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count, column-name set, and (column-name-sorted,
row-sorted) values. Strict equality for ints/strings/dates; exact-first
with a 1e-9 relative fallback report for floats so numeric-determinism
regressions are visible before the driver sees them.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb
import pandas as pd


def load_entry():
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod

    return entry_mod


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    from lsdm_motogp_data_integration_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: float(v) if hasattr(v, "as_tuple") else v
            )
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(
        drop=True
    )


def values_equal(a, b) -> tuple[bool, bool]:
    """(exact, approx) equality for one cell."""
    if a is None and b is None:
        return True, True
    if (isinstance(a, float) and math.isnan(a)) or pd.isna(a):
        # null/NaN on the Spark side matches ONLY null/NaN on the
        # oracle side — approx must not be True against a real value,
        # else a null-regression ships as FLOAT-INEXACT / exit 0
        same = pd.isna(b) is True or b is None
        return same, same
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False, False
        exact = fa == fb or (math.isnan(fa) and math.isnan(fb))
        approx = exact or math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-12)
        return exact, approx
    eq = a == b
    return bool(eq), bool(eq)


def decimal_columns(df: pd.DataFrame) -> list[str]:
    """Columns carrying decimal.Decimal values. The driver hashes the
    SERIALIZED representation, and Spark/DuckDB render equal decimal
    values differently (the round-1 q02 lesson) — so a decimal-typed
    output column is a hash mismatch waiting to happen even when every
    value compares equal here. Flagged as a failure (strict mode)."""
    out = []
    for c in df.columns:
        if df[c].dtype == object:
            col = df[c].dropna()
            if len(col) and hasattr(col.iloc[0], "as_tuple"):
                out.append(c)
    return out


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str:
    strict_dec = sorted(
        set(decimal_columns(spark_pdf)) | set(decimal_columns(duck_pdf))
    )
    if strict_dec:
        return (
            f"DECIMAL-TYPED OUTPUT {strict_dec} — cast to double on both "
            "sides (driver hashes representations, not values)"
        )
    if set(spark_pdf.columns) != set(duck_pdf.columns):
        return (
            f"SCHEMA MISMATCH spark={sorted(spark_pdf.columns)} "
            f"duck={sorted(duck_pdf.columns)}"
        )
    if len(spark_pdf) != len(duck_pdf):
        return f"ROWCOUNT MISMATCH spark={len(spark_pdf)} duck={len(duck_pdf)}"
    s, d = canon(spark_pdf), canon(duck_pdf)
    n_exact_bad = 0
    n_approx_bad = 0
    first_bad = None
    for col in s.columns:
        sv, dv = s[col].tolist(), d[col].tolist()
        for i, (a, b) in enumerate(zip(sv, dv)):
            exact, approx = values_equal(a, b)
            if not exact:
                n_exact_bad += 1
                if first_bad is None:
                    first_bad = (col, i, a, b)
            if not approx:
                n_approx_bad += 1
    if n_approx_bad:
        col, i, a, b = first_bad
        return f"VALUE MISMATCH {n_approx_bad} cells; first {col}[{i}]: {a!r} vs {b!r}"
    if n_exact_bad:
        col, i, a, b = first_bad
        return (
            f"FLOAT-INEXACT ({n_exact_bad} cells within 1e-9; "
            f"first {col}[{i}]: {a!r} vs {b!r})"
        )
    return "OK"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    entry_mod = load_entry()
    from lsdm_motogp_data_integration_spark.session import get_spark

    spark = get_spark("correctness_check")
    con = duck_con(sf_dir)
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    unknown = only - set(queries)
    if unknown:
        # a typo'd filter must not produce a zero-comparison 'ALL OK'
        print(f"UNKNOWN QUERY NAME(S): {sorted(unknown)}")
        print(f"known: {sorted(queries)}")
        return 2
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"{name}: SPARK ERROR\n{traceback.format_exc()}")
            failures += 1
            continue
        if name not in oracles:
            print(
                f"{name}: rows-only check rows={len(spark_pdf)} "
                f"({time.time() - t0:.1f}s, no oracle)"
            )
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"{name}: DUCKDB ERROR\n{traceback.format_exc()}")
            failures += 1
            continue
        verdict = compare(name, spark_pdf, duck_pdf)
        status_ok = verdict == "OK" or verdict.startswith("FLOAT-INEXACT")
        if not status_ok:
            failures += 1
        print(f"{name}: {verdict} rows={len(spark_pdf)} ({time.time() - t0:.1f}s)")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
