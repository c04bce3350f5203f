"""Result check: a key's Spark result against its DuckDB oracle on the
same generated tables, with the repository's oracle-parity semantics
(columns sorted by name, rows sorted by every column, exact values,
NaN equal to NaN)."""

from __future__ import annotations

import duckdb
import pandas as pd

from tinymapreduce_spark.sources.loaders import TABLES


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def mismatch(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows; otherwise why not."""
    cols = sorted(spark_pdf.columns)
    if cols != sorted(oracle_pdf.columns):
        return f"columns {cols} vs {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"row count {len(spark_pdf)} vs {len(oracle_pdf)}"
    if not cols or not len(spark_pdf):
        return None
    a = spark_pdf[cols].sort_values(by=cols, ignore_index=True)
    b = oracle_pdf[cols].sort_values(by=cols, ignore_index=True)
    for col in cols:
        for i, (x, y) in enumerate(zip(a[col].tolist(), b[col].tolist())):
            try:
                if pd.isna(x) and pd.isna(y):
                    continue
            except (TypeError, ValueError):
                pass  # array cells: compared below
            eq = x == y
            if not (eq.all() if hasattr(eq, "all") else eq):
                return f"{col}[{i}]: {x!r} vs {y!r}"
    return None
