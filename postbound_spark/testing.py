"""Local replica of the driver's correctness gate (DB-as-oracle pattern,
SURVEY.md §5): run a registered Spark query and its DuckDB oracle on the same
parquet directory and compare row counts, column names, and values
order-insensitively."""

from __future__ import annotations

import math
from typing import Any

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

from postbound_spark.catalog import TABLES, table_path


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    return con


def _cells_close(a: Any, b: Any) -> bool:
    """Pairwise tolerant equality for one normalized cell — floats compare
    with a relative/absolute epsilon instead of rounding, because rounding
    misclassifies values straddling a boundary in BOTH directions (two
    values 1e-13 apart can round to different 9-decimal reprs, and two
    genuinely different ones can round together)."""
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        # tight on purpose: registered queries round() their float outputs,
        # so matched values agree to the last few ulps. A loose rel_tol
        # (1e-9 of a ~1e9 aggregate tolerates ~1.0 absolute!) would pass
        # locally what the driver's 9-decimal value hash flags red.
        return math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cells_close(x, y) for x, y in zip(a, b))
    return a == b


def _rows_close(a: tuple, b: tuple) -> bool:
    return len(a) == len(b) and all(_cells_close(x, y) for x, y in zip(a, b))


def _normalize_cell(value: Any) -> Any:
    if value is None:
        return None
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return value
    if isinstance(value, (list, tuple)) or type(value).__name__ == "ndarray":
        return tuple(_normalize_cell(v) for v in value)
    if hasattr(value, "item") and type(value).__module__ == "numpy":
        return _normalize_cell(value.item())
    return value


def _float_columns(*frames: pd.DataFrame) -> set[str]:
    """A column is float-classed if it is float in ANY frame: the pairing
    key order below must be identical for both frames, or the permitted
    all-NaN dtype-class-mismatch case (float in one engine, object in the
    other) sorts the two frames with different key orders and mis-pairs
    rows into a spurious mismatch."""
    return {
        c
        for df in frames
        for c in df.columns
        if _dtype_class(df[c].dtype) == "float"
    }


def _normalize(df: pd.DataFrame, float_cols: set[str] | None = None) -> list[tuple]:
    # columns sort alphabetically (the driver's canonical order), but the
    # ROW ordering for pairing puts float columns last: pairing is by
    # sort-then-zip, so a leading float column whose two engines differ in
    # the last ulp could order near-identical rows oppositely and mis-pair
    # them — discrete columns (ids, names) dominate the sort instead
    cols = sorted(df.columns)
    df = df[cols]
    if float_cols is None:
        float_cols = _float_columns(df)
    non_float = [i for i, c in enumerate(cols) if c not in float_cols]
    is_float = [i for i in range(len(cols)) if i not in non_float]
    key_order = non_float + is_float
    rows = [tuple(_normalize_cell(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows, key=lambda r: repr(tuple(r[i] for i in key_order)))


def _dtype_class(dtype: Any) -> str:
    """Collapse pandas dtypes into the classes the driver's value-hash is
    sensitive to.  DuckDB HUGEINT arrives as object/float64 while Spark
    bigint is int64 — that class difference is exactly the hash trap that
    cost three CORRECTNESS rows in rounds 1-2, so it fails here first."""
    s = str(dtype)
    if s.startswith(("int", "uint", "Int", "UInt")):
        return "int"
    if s.startswith(("float", "Float")):
        return "float"
    if s.startswith("bool"):
        return "bool"
    if "datetime" in s:
        return "datetime"
    return s  # object etc.


def _driver_compat_issues(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str | None:
    """Checks mirroring the driver canonicalizer's stricter behavior."""
    # both frames are checked: an oracle-side-only raw array (builder
    # serialized, oracle forgot — the round-2 expr_array_agg failure mode)
    # must fail with this targeted message, not an opaque value mismatch
    for side, pdf in (("spark", spark_pdf), ("oracle", duck_pdf)):
        for col in pdf.columns:
            # full-column scan (results at test SFs are small): a sparse
            # array column whose first rows are NULL must not slip past
            if any(
                isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray"
                for v in pdf[col]
            ):
                return (
                    f"{side} column {col!r} is array-typed: the driver's pandas "
                    "sort_values canonicalizer cannot sort lists — serialize it "
                    "to a string (decimal-formatted join / to_json) on BOTH engines"
                )
    for col in spark_pdf.columns:
        sc, dc = _dtype_class(spark_pdf[col].dtype), _dtype_class(duck_pdf[col].dtype)
        if sc != dc and not (spark_pdf[col].isna().all() or duck_pdf[col].isna().all()):
            return (
                f"column {col!r} dtype class mismatch: spark={spark_pdf[col].dtype} "
                f"duck={duck_pdf[col].dtype} — the driver hashes dtypes with values "
                "(HUGEINT sum trap?); align the types on both engines"
            )
    return None


def compare_query(
    spark: SparkSession, name: str, sf_dir: str
) -> tuple[bool, str]:
    """Run REGISTRY[name] on Spark and its oracle on DuckDB; return
    (match, message)."""
    from postbound_spark.queries import load_all

    qdef = load_all()[name]
    spark_pdf = qdef.builder(spark, sf_dir).toPandas()
    if qdef.oracle is None:
        return True, f"rows-only: {len(spark_pdf)} rows"
    with duckdb_connection(sf_dir) as con:
        duck_pdf = con.execute(qdef.oracle).df()
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return False, f"schema mismatch: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
    compat = _driver_compat_issues(spark_pdf, duck_pdf)
    if compat is not None:
        return False, f"driver-compat: {compat}"
    if len(spark_pdf) != len(duck_pdf):
        return False, f"row count mismatch: spark={len(spark_pdf)} duck={len(duck_pdf)}"
    float_cols = _float_columns(spark_pdf, duck_pdf)
    left, right = _normalize(spark_pdf, float_cols), _normalize(duck_pdf, float_cols)
    mismatched = [
        (l, r) for l, r in zip(left, right) if not _rows_close(l, r)
    ]
    if mismatched:
        return False, f"value mismatch, first diffs: {mismatched[:3]}"
    return True, f"ok ({len(spark_pdf)} rows)"
