"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
against the same parquet tables, then compares row count, column names,
and values (order-insensitive: rows sorted by all columns, columns sorted
by name). Floats compare both exactly (predicts a strict value-hash) and
with 1e-9 relative tolerance (semantic equivalence).

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
    key = df.astype(str)
    order = key.sort_values(by=list(df.columns)).index
    return df.loc[order].reset_index(drop=True)


def values_equal(a, b) -> tuple[bool, bool]:
    """(strict, approx) equality for two scalars."""
    if a is None and b is None:
        return True, True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True, True
        strict = a == b
        approx = strict or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
        return strict, approx
    if isinstance(a, tuple) and isinstance(b, tuple):
        if len(a) != len(b):
            return False, False
        pairs = [values_equal(x, y) for x, y in zip(a, b)]
        return all(p[0] for p in pairs), all(p[1] for p in pairs)
    eq = str(a) == str(b)
    return eq, eq


def unsortable_columns(df: pd.DataFrame) -> list[str]:
    """Columns whose cells would crash the DRIVER's canonicalizer.

    The driver sorts the raw pandas frame (``sort_values`` over all
    columns); list/ndarray cells make pandas' lexsort raise
    ``unhashable type: 'numpy.ndarray'`` (CORRECTNESS_r05's
    publish_set_grouping red row). Queries must emit joined strings
    instead of arrays.
    """
    import numpy as np

    bad = []
    for c in df.columns:
        if df[c].dtype == object and len(df):
            # First NON-NULL cell, not iloc[0]: a left-join-produced
            # array column whose first row is None would otherwise
            # slip past the guard and still crash the driver's
            # lexsort (ADVICE r06).
            s = df[c].dropna()
            v = s.iloc[0] if len(s) else None
            if isinstance(v, (list, tuple, np.ndarray, dict)):
                bad.append(c)
    return bad


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    arrayish = unsortable_columns(spark_df) or unsortable_columns(duck_df)
    if arrayish:
        problems.append(
            f"array-typed output {arrayish} would crash the driver's "
            "canonicalizer — emit joined strings instead")
        return problems
    if len(spark_df) != len(duck_df):
        problems.append(f"rowcount spark={len(spark_df)} duck={len(duck_df)}")
        return problems
    s_cols, d_cols = sorted(spark_df.columns), sorted(duck_df.columns)
    if s_cols != d_cols:
        problems.append(f"columns spark={s_cols} duck={d_cols}")
        return problems
    s, d = canon(spark_df), canon(duck_df)
    strict_bad = approx_bad = 0
    first = None
    for c in s.columns:
        for i, (a, b) in enumerate(zip(s[c], d[c])):
            st, ap = values_equal(a, b)
            if not st:
                strict_bad += 1
                if first is None:
                    first = f"col={c} row={i} spark={a!r} duck={b!r}"
            if not ap:
                approx_bad += 1
    if approx_bad:
        problems.append(f"APPROX MISMATCH {approx_bad} cells; first: {first}")
    elif strict_bad:
        problems.append(f"strict-only mismatch {strict_bad} cells (float last-bit); first: {first}")
    return problems


def main() -> int:
    import __spark_entry__ as e
    from alma_publish_to_marc_spark.session import get_spark

    spark = get_spark("parity-check", cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        # queries that persist() intermediates (minhash, kmeans, ...)
        # would otherwise pin blocks for the whole sweep; tables.release
        # also drops deferred staged-parquet dirs (ktruss_prune)
        spark.catalog.clearCache()
        from alma_publish_to_marc_spark import tables
        tables.release()
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark raised {type(ex).__name__}: {ex}")
            failures += 1
            continue
        if name not in oracles:
            print(f"skip  {name}: no oracle (rows-only check) rows={len(sdf)}")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb raised {type(ex).__name__}: {ex}")
            failures += 1
            continue
        problems = compare(name, sdf, ddf)
        dt = time.time() - t0
        if problems:
            hard = any("APPROX" in p or "rowcount" in p or "columns" in p for p in problems)
            failures += int(hard)
            tag = "FAIL " if hard else "WARN "
            print(f"{tag} {name} ({dt:.1f}s): " + "; ".join(problems))
        else:
            print(f"ok    {name} ({dt:.1f}s) rows={len(sdf)}")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
