"""Output checks: DuckDB oracle answers and order-insensitive comparison.

The engine's query registry carries a DuckDB oracle SQL next to most
queries.  The benchmark evaluates those oracles once in set-up, over the
same parquet inputs Spark reads, and compares every op's result against
them: columns by name, rows as a sorted multiset, values exactly after a
type-normalising pass (decimals by value, whole-day timestamps as dates).
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb
import numpy as np
import pandas as pd

from delta_lake_spark.catalog import TABLES


def duck_connection(corpus_dir: str, orders_where: str | None = None) -> duckdb.DuckDBPyConnection:
    """One view per corpus table.  ``orders_where`` restricts the orders
    view, e.g. to the rows the Silver build keeps."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        where = f" WHERE {orders_where}" if t == "orders" and orders_where else ""
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet'){where}"
        )
    return con


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("l", tuple(_cell(x) for x in v))
    if pd.isna(v):
        return None
    if isinstance(v, decimal.Decimal):
        return ("n", float(v))
    if isinstance(v, (float, np.floating)):
        return ("n", float(v))
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("n", float(v)) if abs(int(v)) < 2**53 else ("i", int(v))
    if isinstance(v, dt.datetime):
        return ("d", v.date().isoformat()) if v.time() == dt.time() else ("ts", v.isoformat())
    if isinstance(v, dt.date):
        return ("d", v.isoformat())
    return ("s", str(v))


def normalize(df: pd.DataFrame) -> tuple[tuple[str, ...], list[tuple]]:
    """(sorted lower-case column names, sorted normalised rows)."""
    df = df.rename(columns=str.lower)
    cols = tuple(sorted(df.columns))
    df = df[list(cols)]
    rows = [tuple(_cell(v) for v in row) for row in df.itertuples(index=False, name=None)]
    return cols, sorted(rows, key=repr)


def mismatch(got: tuple, want: tuple) -> str | None:
    """None when two ``normalize`` results agree, else a one-line reason."""
    if got[0] != want[0]:
        return f"columns {got[0]} != {want[0]}"
    if len(got[1]) != len(want[1]):
        return f"{len(got[1])} rows != {len(want[1])}"
    for i, (a, b) in enumerate(zip(got[1], want[1])):
        if a != b:
            return f"sorted row {i}: {a} != {b}"
    return None
