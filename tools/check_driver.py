"""Local replica of the driver's correctness gate.

Runs every queries() entry on Spark and the matching oracle_sql() on
DuckDB over the same sf directory; compares row count, column names and
values (exact where possible, reporting max float deviation otherwise).

Usage: python tools/check_driver.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> bool:
    ok = True
    if len(spark_pdf) != len(duck_pdf):
        print(f"  ROWS MISMATCH: spark={len(spark_pdf)} duck={len(duck_pdf)}")
        ok = False
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        print(f"  SCHEMA MISMATCH: spark={sc} duck={dc}")
        return False
    if not ok:
        return False
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    for c in s.columns:
        # dtype-strict: the driver's value hash is dtype-sensitive, so an
        # int64 Spark column vs a float64 oracle column (e.g. DuckDB
        # HUGEINT from SUM(BIGINT)) must FAIL here even though the values
        # compare equal numerically — this blind spot shipped the r9
        # corpus_cube_source_lang hash failure.
        if s[c].dtype != d[c].dtype:
            print(
                f"  DTYPE MISMATCH col={c}: spark={s[c].dtype} duck={d[c].dtype}"
                " (driver hash is dtype-sensitive)"
            )
            ok = False
    if not ok:
        return False
    for c in s.columns:
        if pd.api.types.is_float_dtype(s[c]):
            a, b = s[c].to_numpy(), d[c].to_numpy()
            if not np.array_equal(a, b, equal_nan=True):
                md = np.nanmax(np.abs(a - b)) if len(a) else 0
                print(f"  FLOAT MISMATCH col={c} max_abs_diff={md:.3e}")
                ok = False
        else:
            eq = (s[c].to_numpy() == d[c].to_numpy()) | (s[c].isna() & d[c].isna()).to_numpy()
            if not eq.all():
                i = int(np.argmin(eq))
                print(f"  VALUE MISMATCH col={c} row{i}: spark={s[c].iloc[i]!r} duck={d[c].iloc[i]!r}")
                ok = False
    return ok


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from anndb_spark.session import get_spark
    from anndb_spark.sources.tables import TABLES

    spark = get_spark("check-driver")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    # local gate checks the FULL registry, not just the driver's 50-window
    qs = getattr(entrymod, "all_queries", entrymod.queries)()
    os_ = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        print(f"[run ] {name}", flush=True)
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"[FAIL] {name}: spark error: {e}")
            n_fail += 1
            continue
        t1 = time.time()
        sql = os_.get(name)
        if sql is None:
            print(f"[rows-only] {name}: {len(spark_pdf)} rows ({t1-t0:.1f}s)")
            n_pass += 1
            continue
        try:
            duck_pdf = con.execute(sql).df()
        except Exception as e:
            print(f"[FAIL] {name}: duckdb error: {e}")
            n_fail += 1
            continue
        if compare(name, spark_pdf, duck_pdf):
            print(f"[PASS] {name}: {len(spark_pdf)} rows (spark {t1-t0:.1f}s)")
            n_pass += 1
        else:
            print(f"[FAIL] {name}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
