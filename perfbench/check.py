"""Exact answer checking against DuckDB references.

Both sides are reduced to one canonical pandas frame: columns sorted by
name, dates and timestamps as naive nanosecond timestamps, decimals as
floats, lists as tuples, rows sorted. The engine's contract with its
oracles is bit-identity (``functions/core.py:round_away``), so values
are compared exactly; NULL equals NULL and NaN equals NaN. The one
exception is a rounding tie on the columns of ``ROUNDED_AGGREGATES``.
"""

from __future__ import annotations

import datetime
import decimal

import duckdb
import numpy as np
import pandas as pd


# Columns that ``oracles.py`` computes as round(avg(x), d) or
# round(stddev_samp(x), d) over doubles, with their d. A double sum
# depends on its order, which neither engine fixes. When the exact value
# lies on a rounding tie, both neighbours are answers the oracle SQL
# allows: at 2 threads DuckDB itself returns either one on repeated runs
# of the same query over the same file. So on these columns a value
# exactly one unit of the d-th decimal off the reference passes, and is
# counted as a tie.
ROUNDED_AGGREGATES = {
    # int_rolling_metrics (stock_performance, rolling_indicators)
    "sma_5d": 4, "sma_10d": 4, "sma_20d": 4, "sma_50d": 4,
    "volatility_20d_pct": 4, "annualised_volatility_pct": 4,
    "avg_volume_20d": 0, "volume_vs_avg_20d": 4, "rsi_14": 2,
    # mart_daily_summary
    "avg_return_pct": 4, "return_stddev": 4, "avg_volume_vs_norm": 4,
    "avg_annualised_vol_pct": 2, "avg_intraday_range_pct": 4,
    # realtime signals
    "ma_15m": 6, "volatility_15m": 6, "ma_1h": 6,
    "avg_volume_1h": 0, "avg_volatility_1h": 4,
}


def connect(views: dict[str, list[str]]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table over parquet files."""
    con = duckdb.connect(config={"threads": 2})
    for table, files in views.items():
        listed = ", ".join(f"'{f}'" for f in files)
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet([{listed}])"
        )
    return con


def rows_frame(columns: list[str], rows: list) -> pd.DataFrame:
    """Spark ``collect()`` output as a frame."""
    return pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)


def _canon_value(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return pd.Timestamp(v.replace(tzinfo=None) if v.tzinfo else v)
    if isinstance(v, datetime.date):
        return pd.Timestamp(v)
    return v


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        col = df[c]
        if str(col.dtype).startswith("datetime64"):
            col = pd.to_datetime(col)
            if col.dt.tz is not None:
                col = col.dt.tz_localize(None)
            df[c] = col.astype("datetime64[ns]")
        elif col.dtype == object:
            df[c] = col.map(_canon_value)
            kinds = {type(v) for v in df[c] if v is not None and v == v}
            if kinds and kinds <= {int, float, bool}:
                df[c] = df[c].astype("float64")
            elif kinds == {pd.Timestamp}:
                df[c] = pd.to_datetime(df[c]).astype("datetime64[ns]")
        elif pd.api.types.is_numeric_dtype(col) or pd.api.types.is_bool_dtype(col):
            df[c] = col.astype("float64")
    # tie-tolerant columns sort last, so a tie cannot reorder the rows
    keys = sorted(df.columns, key=lambda c: (c in ROUNDED_AGGREGATES, c))
    df = df.sort_values(keys, kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def _same(a: pd.Series, b: pd.Series) -> np.ndarray:
    if a.dtype == "float64" and b.dtype == "float64":
        x, y = a.to_numpy(), b.to_numpy()
        return (x == y) | (np.isnan(x) & np.isnan(y))
    out = np.empty(len(a), dtype=bool)
    for i, (x, y) in enumerate(zip(a.tolist(), b.tolist())):
        xn = x is None or (isinstance(x, float) and x != x) or x is pd.NaT
        yn = y is None or (isinstance(y, float) and y != y) or y is pd.NaT
        out[i] = (xn and yn) or (not xn and not yn and x == y)
    return out


def _one_unit_off(x: np.ndarray, y: np.ndarray, places: int) -> np.ndarray:
    unit = 10.0 ** -places
    return np.abs(np.abs(x - y) - unit) <= unit * 1e-6


def compare(got: pd.DataFrame, expected: pd.DataFrame) -> tuple[str | None, list[str]]:
    """The first difference found between the two answers, in one line
    (``None`` when there is none), and one line per column on which
    rounding ties were accepted."""
    if sorted(got.columns) != sorted(expected.columns):
        return f"columns {sorted(got.columns)} != {sorted(expected.columns)}", []
    if len(got) != len(expected):
        return f"row count {len(got)} != {len(expected)}", []
    g, e = canon(got), canon(expected)
    ties = []
    for c in g.columns:
        bad = ~_same(g[c], e[c])
        if bad.any() and c in ROUNDED_AGGREGATES and g[c].dtype == e[c].dtype == "float64":
            tie = bad & _one_unit_off(g[c].to_numpy(), e[c].to_numpy(), ROUNDED_AGGREGATES[c])
            if tie.any():
                i = int(np.argmax(tie))
                ties.append(
                    f"{c}: {int(tie.sum())} rows, first {g[c].iat[i]!r} vs {e[c].iat[i]!r}"
                )
            bad &= ~tie
        if bad.any():
            i = int(np.argmax(bad))
            return (
                f"column {c}: {int(bad.sum())} rows differ, "
                f"first {g[c].iat[i]!r} != {e[c].iat[i]!r}"
            ), ties
    return None, ties
