"""Local emulation of the driver's correctness gate.

Runs every registered query on Spark and its oracle SQL on DuckDB at a
given sf dir, then compares row count, sorted column names, and values
(columns sorted by name, rows sorted, exact match after the queries'
own ROUND(...,4) hygiene; tiny float tolerance report as diagnostics).
A query that leaves anything in the session cache is a LEAK failure.

Usage:  python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

from meta_iterative_mapreduce_spark import registry  # noqa: E402
from meta_iterative_mapreduce_spark.io import TABLES  # noqa: E402
from meta_iterative_mapreduce_spark.session import get_spark  # noqa: E402


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        # uniform NaN/None representation
        if df[c].dtype == object:
            df[c] = df[c].where(pd.notna(df[c]), None)
    df = df.sort_values(by=list(df.columns), ignore_index=True, kind="mergesort")
    return df


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns: spark={sc} duck={dc}")
        return problems
    if problems:
        return problems
    s, d = canon(spark_pdf), canon(duck_pdf)
    for c in s.columns:
        # enforce identical result dtypes: a value-equal but
        # width-different column (int32 vs int64, HUGEINT fallout)
        # could still fail a dtype-sensitive driver hash
        if str(s[c].dtype) != str(d[c].dtype):
            problems.append(
                f"col {c}: dtype spark={s[c].dtype} duck={d[c].dtype}"
            )
    for c in s.columns:
        sv, dv = s[c], d[c]
        try:
            if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(dv):
                sv_f = pd.to_numeric(sv, errors="coerce").astype(float)
                dv_f = pd.to_numeric(dv, errors="coerce").astype(float)
                exact = ((sv_f == dv_f) | (sv_f.isna() & dv_f.isna())).all()
                if not exact:
                    bad = (~((sv_f == dv_f) | (sv_f.isna() & dv_f.isna()))).sum()
                    mx = (sv_f - dv_f).abs().max()
                    problems.append(f"col {c}: {bad} mismatched floats, max abs diff {mx}")
            else:
                eq = (sv.astype(str).where(pd.notna(sv), "∅")
                      == dv.astype(str).where(pd.notna(dv), "∅"))
                if not eq.all():
                    i = (~eq).idxmax()
                    problems.append(
                        f"col {c}: {(~eq).sum()} mismatches, first at row {i}: "
                        f"spark={sv[i]!r} duck={dv[i]!r}"
                    )
        except Exception as e:  # noqa: BLE001
            problems.append(f"col {c}: compare error {e}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs = registry.queries()
    oracles = registry.oracle_sql()
    spark = get_spark("mimr-check")
    con = duck_con(sf_dir)
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception:
            print(f"FAIL  {name}: spark error\n{traceback.format_exc()}")
            n_fail += 1
            continue
        # a query must release every cache it made: a leftover would
        # pile up (and skew timings) across the shared session
        if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
            print(f"LEAK  {name}: the session cache is not empty after the query")
            spark.catalog.clearCache()
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(spdf)} rows ({time.time()-t0:.1f}s) [rows-only]")
            n_rows_only += 1
            continue
        try:
            dpdf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL  {name}: duckdb error\n{traceback.format_exc()}")
            n_fail += 1
            continue
        problems = compare(name, spdf, dpdf)
        if problems:
            print(f"FAIL  {name} ({time.time()-t0:.1f}s):")
            for p in problems:
                print(f"      {p}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(spdf)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
