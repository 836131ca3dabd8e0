"""Expected results from the DuckDB oracle, and what both sides are
compared by: row count, column names, each column's dtype family and an
order-insensitive value hash.

``canon`` and ``dtype_family`` are copies of the repo's oracle gate,
``tools/verify_oracle.py``, and ``mismatch`` applies the gate's dtype rule
(a column fails when both sides have a family and they differ). ``value_hash`` gives the
same digest as the gate's (columns sorted by name, dates rendered as text,
rows sorted, floats as ``%.6g``, row values upcast to the frame's common
dtype), but reads the rows with ``DataFrame.values.tolist()``, the
values ``DataFrame.iterrows`` yields, so a 150k-row result hashes in well
under a second. They are kept here rather than imported so that later
refactors of ``tools/`` cannot change what the benchmark checks;
``perfbench/tests/test_loop.py`` checks that they still agree with the
gate.
"""

from __future__ import annotations

import datetime
import hashlib
import os
from dataclasses import dataclass

import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if str(s.dtype).startswith("datetime64"):
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif s.dtype == object:
            df[c] = s.map(
                lambda v: v.strftime("%Y-%m-%d %H:%M:%S.%f")
                if isinstance(v, (datetime.date, datetime.datetime))
                else str(v)
            )
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def dtype_family(s: pd.Series) -> str:
    """Coarse dtype family ('int'/'float'/'str'/'datetime'/'bool'/'array'),
    compared before the value hash: ``%.6g`` renders an int 5 and a float
    5.0 alike, the driver's canonicalizer does not."""
    import decimal

    import numpy as np

    dt = str(s.dtype)
    if dt.startswith("datetime64"):
        return "datetime"
    if dt == "bool" or dt == "boolean":
        return "bool"
    if pd.api.types.is_integer_dtype(s.dtype):
        return "int"
    if pd.api.types.is_float_dtype(s.dtype):
        return "float"
    for v in s.dropna().head(50):
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, (int, np.integer)):
            return "int"
        if isinstance(v, (float, np.floating, decimal.Decimal)):
            return "float"
        if isinstance(v, (datetime.date, datetime.datetime)):
            return "datetime"
        if isinstance(v, (list, tuple, np.ndarray)):
            return "array"
        if isinstance(v, str):
            return "str"
    return "empty"


def value_hash(df: pd.DataFrame) -> str:
    parts = [
        "|".join(f"{v:.6g}" if isinstance(v, float) else str(v) for v in row)
        for row in canon(df).values.tolist()
    ]
    return hashlib.sha256("\n".join(sorted(parts)).encode()).hexdigest()[:16]


@dataclass(frozen=True)
class Result:
    """What a query returned, reduced to what the check compares."""

    rows: int
    columns: tuple[str, ...]
    #: ``dtype_family`` of each column, in ``columns`` order
    families: tuple[str, ...]
    hash: str

    @classmethod
    def of(cls, df: pd.DataFrame) -> Result:
        columns = tuple(sorted(df.columns))
        families = tuple(dtype_family(df[c]) for c in columns)
        return cls(len(df), columns, families, value_hash(df))

    @classmethod
    def from_json(cls, d: dict) -> Result:
        return cls(d["rows"], tuple(d["columns"]), tuple(d["families"]), d["hash"])


def mismatch(got: Result, expected: Result | None) -> str | None:
    """Why ``got`` fails the check, or ``None`` when it passes. Without an
    oracle (the rows-only queries) a query must return at least one row."""
    if expected is None:
        return None if got.rows > 0 else "rows-only query returned 0 rows"
    if got.rows != expected.rows:
        return f"rows {got.rows} vs oracle {expected.rows}"
    if got.columns != expected.columns:
        return f"columns {list(got.columns)} vs oracle {list(expected.columns)}"
    drift = [
        f"{c}: spark={fs} vs oracle={fo}"
        for c, fs, fo in zip(got.columns, got.families, expected.families)
        if "empty" not in (fs, fo) and fs != fo
    ]
    if drift:
        return f"dtype {'; '.join(drift)}"
    if got.hash != expected.hash:
        return f"value hash {got.hash} vs oracle {expected.hash}"
    return None


def expected_results(sf_dir: str, sql: dict[str, str]) -> dict[str, Result]:
    """Run each query's oracle SQL on DuckDB over the Parquet files in
    ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {name: Result.of(con.execute(q).df()) for name, q in sql.items()}
    finally:
        con.close()
