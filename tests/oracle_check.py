"""Mini-verifier: run each registered query on Spark and its DuckDB oracle
on the same parquet and compare them under the external verifier's rule
(:func:`mismatch`, which ``tools/driver_mimic.py`` also uses), so
regressions surface in pytest first."""

from __future__ import annotations

import math

import duckdb
import pandas as pd

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, array cells as tuples, timestamps without a
    zone (both sides run under UTC), rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) or hasattr(v, "tolist") and not isinstance(v, (str, bytes)) else v
            )
    return df.sort_values(by=list(df.columns), ignore_index=True)


def dtype_family(s: pd.Series) -> str:
    """Coarse dtype family. The external verifier hashes stringified cells,
    so a Spark BIGINT ``2`` and a DuckDB DOUBLE ``2.0`` diverge even though
    they are numerically equal: numeric families must match exactly."""
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    return "obj"


def mismatch(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str | None:
    """The external verifier's comparison rule, or None when the frames
    match: equal row counts and column names, equal numeric dtype families,
    floats exactly equal (NaN matches NaN), every other cell equal as a
    string."""
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    if len(s) != len(d):
        return f"rows {len(s)} != {len(d)}"
    if list(s.columns) != list(d.columns):
        return f"cols {list(s.columns)} != {list(d.columns)}"
    for c in s.columns:
        a, b = s[c], d[c]
        fa, fb = dtype_family(a), dtype_family(b)
        if fa != fb and {fa, fb} & {"int", "float", "bool"}:
            return f"col {c} dtype {a.dtype} != {b.dtype}"
        if "float" in (fa, fb):
            for i, (x, y) in enumerate(zip(a.astype(float), b.astype(float))):
                if math.isnan(x) != math.isnan(y) or (not math.isnan(x) and x != y):
                    return f"col {c} row {i}: {x!r} != {y!r}"
        else:
            neq = a.astype(str) != b.astype(str)
            if neq.any():
                i = int(neq.idxmax())
                return f"col {c} row {i}: {a[i]!r} != {b[i]!r}"
    return None


def compare(spark_df, duck_df: pd.DataFrame, name: str) -> None:
    why = mismatch(spark_df.toPandas(), duck_df)
    assert why is None, f"{name}: {why}"
