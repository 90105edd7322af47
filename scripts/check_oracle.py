"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()``
twin on DuckDB (same parquet tables registered as views), then
compares row count, column names, and order-insensitive values.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

# import the package of the checkout this script sits in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    # Mirrors the driver's canonicalizer: sort columns by name, then
    # sort rows by all columns.  An unhashable cell (list/ndarray/
    # bytearray) makes sort_values raise, exactly like the driver's
    # harness — compare() surfaces that as a failure.
    pdf = pdf[sorted(pdf.columns)]
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _bits(v: pd.Series) -> pd.Series:
    """Float values as their IEEE-754 bit patterns (NaN-normalized)."""
    arr = v.to_numpy(dtype=np.float64, copy=True)
    arr[np.isnan(arr)] = np.nan  # canonical NaN payload
    return pd.Series(arr.view(np.uint64))


def compare(name: str, spdf: pd.DataFrame, dpdf: pd.DataFrame) -> list[str]:
    """Driver-equivalent compare: identical columns, row counts, per-
    column DTYPES, and bit-identical values (floats compared on their
    IEEE bit patterns, so -0.0 != 0.0 and int64 != float64 — the two
    classes the round-1 driver caught and a plain ``==`` passed)."""
    problems = []
    if sorted(spdf.columns) != sorted(dpdf.columns):
        problems.append(f"columns differ: {sorted(spdf.columns)} vs {sorted(dpdf.columns)}")
        return problems
    if len(spdf) != len(dpdf):
        problems.append(f"row count differs: spark={len(spdf)} duckdb={len(dpdf)}")
    try:
        a, b = canon(spdf), canon(dpdf)
    except TypeError as e:
        problems.append(f"canonicalize error (driver would err too): {e}")
        return problems
    for col in a.columns:
        if str(a[col].dtype) != str(b[col].dtype):
            problems.append(
                f"col {col}: DTYPE differs: spark={a[col].dtype} duckdb={b[col].dtype}"
            )
    if problems:
        return problems
    if len(a) == len(b):
        for col in a.columns:
            av, bv = a[col], b[col]
            try:
                if av.dtype.kind == "f":
                    same = _bits(av) == _bits(bv)
                else:
                    same = (av.isna() & bv.isna()) | (av == bv)
                n_bad = int((~same).sum())
            except Exception as e:  # dtype mismatch etc
                problems.append(f"col {col}: compare error {e}")
                continue
            if n_bad:
                idx = (~same).idxmax()
                problems.append(
                    f"col {col}: {n_bad} mismatches; first at row {idx}: "
                    f"spark={av[idx]!r} duckdb={bv[idx]!r}"
                )
    return problems


def main():
    args = sys.argv[1:]
    # --plain-session: replicate the DRIVER's environment — a bare
    # SparkSession.builder with NO tuned configs (Arrow off, default
    # shuffle partitions, AQE defaults).  Query correctness must not
    # depend on session config: sx5 was broken for five rounds by an
    # Arrow-dependent createDataFrame that the tuned local sweep
    # could never catch.  Run the head sweep in BOTH modes.
    plain = "--plain-session" in args
    args = [a for a in args if a != "--plain-session"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    from dask_traj_spark.queries import oracle_sql, queries

    if plain:
        from pyspark.sql import SparkSession

        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        spark = (
            SparkSession.builder.master(f"local[{cpus}]" if cpus else "local[*]")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("WARN")
    else:
        from dask_traj_spark.session import get_spark

        spark = get_spark()
    con = duck_con(sf_dir)
    qs, os_ = queries(), oracle_sql()

    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        finally:
            # the result is fully materialized (or the query failed);
            # drop the operators' tracked persists so a 192-query
            # sweep doesn't accumulate dead caches (session hygiene —
            # see session.release_caches)
            from dask_traj_spark.session import release_caches

            release_caches()
        if name not in os_:
            print(f"SKIP {name}: no oracle (rows={len(spdf)}) [{time.time()-t0:.1f}s]")
            continue
        try:
            dpdf = con.execute(os_[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        problems = compare(name, spdf, dpdf)
        if problems:
            n_fail += 1
            print(f"FAIL {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"     {p}")
        else:
            n_pass += 1
            print(f"PASS {name} rows={len(spdf)} [{time.time()-t0:.1f}s]")
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
