"""Correctness gate: one untimed call of every workload entry, checked.

Oracled entries must equal their DuckDB ``oracle_sql()`` result as a
multiset of rows, in the canonical form of ``tests/oracle.py``: columns
by name, Decimal as float, floats rounded to 9 places, timestamps and
dates as instants, rows in any order. Here that form is computed with
vectorised row hashes, because several entries return 10^5 rows.
"""

from __future__ import annotations

import datetime
import os
from decimal import Decimal

import numpy as np
import pandas as pd


def _canon_column(col: pd.Series) -> pd.Series:
    if pd.api.types.is_bool_dtype(col) or pd.api.types.is_numeric_dtype(col):
        return col.astype("float64").round(9)
    if pd.api.types.is_datetime64_any_dtype(col):
        if getattr(col.dt, "tz", None) is not None:
            col = col.dt.tz_convert("UTC").dt.tz_localize(None)
        return pd.Series(col.astype("datetime64[ns]").to_numpy().view("int64"), index=col.index)
    sample = col.dropna()
    first = sample.iloc[0] if len(sample) else None
    if isinstance(first, Decimal):
        return col.map(lambda v: None if v is None else float(v)).astype("float64").round(9)
    if isinstance(first, (datetime.date, datetime.datetime)):
        return _canon_column(pd.to_datetime(col))
    return col.astype("string")


def row_hashes(pdf: pd.DataFrame) -> np.ndarray:
    """Sorted per-row hashes of ``pdf`` in canonical form."""
    canon = pd.DataFrame({c: _canon_column(pdf[c]) for c in sorted(pdf.columns)})
    return np.sort(pd.util.hash_pandas_object(canon, index=False).to_numpy())


class Gate:
    def __init__(self, data_dir: str) -> None:
        import duckdb

        from datapipe_spark import TABLES

        self.data_dir = data_dir
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def close(self) -> None:
        self.con.close()

    def check(self, spark, name: str, fn, sql: str | None) -> tuple[int, str | None]:
        """Run ``name`` once; return (rows, problem or None)."""
        pdf = fn(spark, self.data_dir).toPandas()
        rows = len(pdf)
        if sql is None:
            return rows, "no oracle"
        opdf = self.con.sql(sql).df()
        if sorted(pdf.columns) != sorted(opdf.columns):
            return rows, f"cols {sorted(pdf.columns)} != oracle {sorted(opdf.columns)}"
        if rows != len(opdf):
            return rows, f"rows {rows} != oracle {len(opdf)}"
        bad = int((row_hashes(pdf) != row_hashes(opdf)).sum())
        if bad:
            return rows, f"{bad} row hashes differ from the oracle"
        return rows, None
