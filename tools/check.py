"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same sf dir, then compares row count, column names,
and an order-insensitive value hash.

Canonicalization deliberately mirrors the grading driver (learned from
CORRECTNESS_r01): BOTH sides go through pandas — Spark via
``toPandas()``, DuckDB via ``rel.df()`` — then columns are sorted by
name, rows are sorted with ``DataFrame.sort_values`` over all columns,
and cells are hashed by their string rendering. This surfaces the
whole dtype-portability failure class the old ``fetchall()`` gate
masked: DuckDB HUGEINT -> float64 renders ``95.0`` vs Spark int64
``95``; Spark Decimal objects vs DuckDB float64; array-typed cells
crash ``sort_values`` with "unhashable type: 'list'" exactly as they
do in the driver.

Usage:
    python tools/check.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time

import duckdb

# The checkout this script lives in, so a copy of the repo checks its
# own engine.
REPO = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, REPO)

from map_reduce_for_dbpl_dataset_spark.sources.parquet import FIXTURE_TABLES  # noqa: E402


def _render(v) -> str:
    """Driver-faithful cell rendering: plain ``str()`` of whatever
    pandas hands back, with only NULL-ish values normalized. No float
    rounding, no type coercion — if Spark yields int64 95 and DuckDB
    yields float64 95.0, this MUST differ, because it differs under
    the driver."""
    if v is None:
        return "\\N"
    if isinstance(v, float) and math.isnan(v):
        return "\\N"
    # pandas NaT / pd.NA without importing pandas types explicitly
    s = str(v)
    if s in ("NaT", "<NA>"):
        return "\\N"
    return s


def canon_pandas(df):
    """Sort columns by name, rows by all columns — the driver's _canon.

    Raises TypeError on unhashable cells (lists/arrays), as the driver
    does; callers report that as an error row."""
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def digest_pandas(df) -> str:
    h = hashlib.sha256()
    for row in df.itertuples(index=False, name=None):
        h.update("\x01".join(_render(v) for v in row).encode())
        h.update(b"\x02")
    return h.hexdigest()[:16]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from map_reduce_for_dbpl_dataset_spark.session import get_spark

    spark = get_spark("check")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or list(qs)

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        fn = qs[name]
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(spdf)} rows (no oracle) [{spark_s:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            opdf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = []
        if len(spdf) != len(opdf):
            problems.append(f"rowcount spark={len(spdf)} oracle={len(opdf)}")
        if sorted(spdf.columns) != sorted(opdf.columns):
            problems.append(
                f"schema spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}"
            )
        cs = co = None
        if not problems:
            try:
                cs = canon_pandas(spdf)
            except Exception as e:
                problems.append(f"spark canon error: {type(e).__name__}: {e}")
            try:
                co = canon_pandas(opdf)
            except Exception as e:
                problems.append(f"oracle canon error: {type(e).__name__}: {e}")
        if not problems and cs is not None and co is not None:
            ds, do = digest_pandas(cs), digest_pandas(co)
            if ds != do:
                problems.append(f"hash {ds} != {do}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            # show the first differing row to debug
            if cs is not None and co is not None and len(cs) == len(co):
                for i in range(len(cs)):
                    a = "\x01".join(_render(v) for v in cs.iloc[i])
                    b = "\x01".join(_render(v) for v in co.iloc[i])
                    if a != b:
                        print(f"      spark : {a[:220]}\n      oracle: {b[:220]}")
                        break
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(spdf)} rows [{spark_s:.1f}s]")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
