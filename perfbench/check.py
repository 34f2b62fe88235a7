"""Output checks against DuckDB oracles, with the pass rule of
``tools/local_correctness.py``: same row count, same column names and
the same dtype-strict, order-insensitive value hash (every cell hashed
with its Python type, so int64 5 != float64 5.0)."""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
import pyarrow.parquet as pq

from tools.local_correctness import _value_hash


@dataclass(frozen=True)
class Expected:
    rows: int
    columns: tuple[str, ...]
    digest: str

    @classmethod
    def of(cls, df: pd.DataFrame) -> "Expected":
        cols = tuple(sorted(df.columns))
        return cls(len(df), cols, _value_hash(df))


def check_frame(df: pd.DataFrame, want: Expected, columns=None) -> str | None:
    """None when ``df`` matches ``want``, else the first difference."""
    if columns is not None:
        df = df[list(columns)]
    if len(df) != want.rows:
        return f"rows {len(df)} != {want.rows}"
    cols = tuple(sorted(df.columns))
    if cols != want.columns:
        return f"columns {cols} != {want.columns}"
    if _value_hash(df) != want.digest:
        return "values differ"
    return None


def frame_from_parquet(path: str) -> pd.DataFrame:
    """A written parquet result as pandas (the Arrow conversion Spark's
    ``toPandas`` uses)."""
    return pq.read_table(path).to_pandas()
