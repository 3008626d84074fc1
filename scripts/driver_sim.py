"""Simulate the external driver's CORRECTNESS gate locally.

Runs the FIRST 50 entries of ``__spark_entry__.queries()`` (the driver
window) on a VANILLA SparkSession (none of session.py's confs — the
driver builds its own), runs each ``oracle_sql()`` twin in DuckDB at the
same scale factor, and compares row count, column names, and values
(columns sorted by name, rows sorted, floats within 1e-9 — the driver
hashes rendered values, so anything this script flags as a float-only
diff still needs eyeballing).

Usage:
    python scripts/driver_sim.py [sf_dir] [--all] [names...]

Defaults to /root/testdata/sf0.01 (the driver's own scale) and the
50-query window; ``--all`` sweeps every registered query; explicit names
run just those.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from collimate_spark.catalog import TABLES  # noqa: E402


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    """Column-sort, then row-sort on the NON-float columns (stable
    mergesort). Sorting on raw float columns would let two values that
    differ only within the 1e-9 compare tolerance sort into different
    row orders between Spark and DuckDB whenever the preceding columns
    tie, misaligning rows and producing false FAILs (ADVICE r6). Float
    columns still participate as tie-breakers, but rounded to 6dp so
    tolerance-level noise can't flip their order; a frame with ONLY
    float columns falls back to the rounded full-column sort."""
    df = df.reindex(sorted(df.columns), axis=1)
    keys: list[str] = []
    sort_frame = {}
    for c in df.columns:
        if df[c].dtype.kind == "f":
            # + 0.0 collapses IEEE -0.0 -> +0.0 before sorting/rendering
            sort_frame[c] = df[c].astype(float).round(6) + 0.0
        else:
            sort_frame[c] = df[c].astype(str)
        keys.append(c)
    # non-float keys first so exact keys dominate the order
    keys.sort(key=lambda c: (df[c].dtype.kind == "f", c))
    order = pd.DataFrame(sort_frame).sort_values(keys, kind="mergesort").index
    return df.loc[order].reset_index(drop=True)


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str | None:
    if len(spark_pdf) != len(duck_pdf):
        return f"rows {len(spark_pdf)} vs {len(duck_pdf)}"
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"cols {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    a, b = _norm(spark_pdf), _norm(duck_pdf)
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            aa = av.astype(float).to_numpy()
            bb = bv.astype(float).to_numpy()
            ok = (np.isnan(aa) & np.isnan(bb)) | np.isclose(
                aa, bb, rtol=1e-9, atol=1e-9, equal_nan=True
            )
            if not ok.all():
                i = int(np.argmin(ok))
                return f"col {c} row {i}: {aa[i]!r} vs {bb[i]!r}"
        else:
            sa = av.astype(str).to_numpy()
            sb = bv.astype(str).to_numpy()
            if not (sa == sb).all():
                i = int(np.argmin(sa == sb))
                return f"col {c} row {i}: {sa[i]!r} vs {sb[i]!r}"
    return None


def main() -> None:
    from pyspark.sql import SparkSession

    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.01"
    names: list[str] = []
    sweep_all = False
    for a in args:
        if a == "--all":
            sweep_all = True
        elif os.path.isdir(a):
            sf_dir = a
        else:
            names.append(a)

    # Validate positionals BEFORE paying Spark startup: a typo'd sf_dir
    # path would otherwise be silently reinterpreted as a query name and
    # die later with a confusing KeyError (ADVICE r6).
    import __spark_entry__ as entry

    registered = set(entry.queries())
    unknown = [n for n in names if n not in registered]
    if unknown:
        for n in unknown:
            hint = " (a nonexistent data directory?)" if ("/" in n or n.startswith(".")) else ""
            print(f"error: {n!r} is not a registered query name{hint}", file=sys.stderr)
        sys.exit(2)
    if sweep_all and names:
        print("warning: --all ignored because explicit query names were given", file=sys.stderr)

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .appName("driver-sim")
        .getOrCreate()
    )
    qs, osql = entry.queries(), entry.oracle_sql()
    if not names:
        names = list(qs)[:50] if not sweep_all else list(qs)
    con = _duck(sf_dir)
    bad = 0
    for n in names:
        t0 = time.time()
        try:
            spark.catalog.clearCache()
            sdf = qs[n](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {n}: spark error {type(e).__name__}: {e}")
            bad += 1
            continue
        if n not in osql:
            print(f"rows-only {n}: {len(sdf)} rows ({time.time() - t0:.1f}s)")
            continue
        try:
            ddf = con.execute(osql[n]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {n}: duckdb error {type(e).__name__}: {e}")
            bad += 1
            continue
        diff = compare(sdf, ddf)
        if diff:
            print(f"FAIL {n}: {diff}")
            bad += 1
        else:
            print(f"ok   {n}: {len(sdf)} rows ({time.time() - t0:.1f}s)")
    print(f"\n{len(names) - bad}/{len(names)} clean")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
