"""The local correctness gate (tools/check_driver.py) must reproduce the
driver's dtype-sensitive value hash: an int64 Spark column against a
float64 oracle column (DuckDB HUGEINT from SUM(BIGINT)) hash-mismatches
on the driver even when every value compares equal numerically.  r8's
numeric-only compare shipped exactly that failure (corpus_cube
hash-red in CORRECTNESS_r09)."""

import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
from check_driver import compare  # noqa: E402


def test_hugeint_oracle_fails_dtype_strict(capsys):
    """The r9 scenario: DuckDB SUM(BIGINT) -> HUGEINT -> float64 frame;
    values equal, dtypes differ -> must FAIL like the driver does."""
    con = duckdb.connect()
    duck = con.execute(
        "SELECT g, SUM(CAST(v AS BIGINT)) AS n FROM "
        "(VALUES ('a', 1), ('a', 2), ('b', 3)) t(g, v) GROUP BY g"
    ).df()
    assert duck["n"].dtype == "float64"  # HUGEINT lands as float64
    spark_like = pd.DataFrame({"g": ["a", "b"], "n": pd.array([3, 3], dtype="int64")})
    assert not compare("hugeint", spark_like, duck)
    assert "DTYPE MISMATCH" in capsys.readouterr().out


def test_outer_bigint_cast_restores_int64():
    """The fix: an outer CAST(... AS BIGINT) keeps the oracle int64."""
    con = duckdb.connect()
    duck = con.execute(
        "SELECT g, CAST(SUM(CAST(v AS BIGINT)) AS BIGINT) AS n FROM "
        "(VALUES ('a', 1), ('a', 2), ('b', 3)) t(g, v) GROUP BY g"
    ).df()
    spark_like = pd.DataFrame({"g": ["a", "b"], "n": pd.array([3, 3], dtype="int64")})
    assert compare("cast", spark_like, duck)


def test_equal_values_different_int_widths_still_pass():
    """normalize() widens all integer dtypes to int64 first — width-only
    differences (int32 vs int64) are NOT driver hash mismatches."""
    a = pd.DataFrame({"k": pd.array([1, 2], dtype="int32")})
    b = pd.DataFrame({"k": pd.array([1, 2], dtype="int64")})
    assert compare("widths", a, b)


def test_cube_oracle_sql_is_int64_end_to_end():
    """The shipped corpus_cube_source_lang oracle must produce int64
    n_tokens/n_docs on the real fixture (regression for the r9 red row)."""
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as e

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    duck = con.execute(e.oracle_sql()["corpus_cube_source_lang"]).df()
    assert duck["n_tokens"].dtype == "int64", duck.dtypes
    assert duck["n_docs"].dtype == "int64", duck.dtypes
