"""Local mirror of the driver's DuckDB-oracle comparison.

Runs a registered Spark query and its oracle SQL over the same parquet
tables, then compares row count, (loose) schema, and order-insensitive
values — columns sorted by name, rows sorted by stringified value, exact
equality (queries round floats internally, so both engines must return
literally identical numbers).
"""

from __future__ import annotations

import functools
import math
from typing import Any

import duckdb

from parallel_monte_carlo_simulations_spark.tables import TABLE_NAMES


@functools.cache
def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """One shared connection per ``sf_dir`` for the whole test session,
    with a view per table. Callers must not close it."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _norm_cell(v: Any) -> Any:
    import datetime

    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat() + "T00:00:00"
    try:
        import pandas as pd

        if isinstance(v, pd.Timestamp):
            return v.isoformat()
    except ImportError:
        pass
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Normalize -0.0 and floats to repr with full precision.
        return repr(v + 0.0)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    try:
        import numpy as np

        if isinstance(v, np.generic):
            return _norm_cell(v.item())
        if isinstance(v, np.ndarray):
            return tuple(_norm_cell(x) for x in v.tolist())
    except ImportError:
        pass
    return v


def _normalize(rows: list[dict[str, Any]]) -> list[tuple]:
    if not rows:
        return []
    cols = sorted(rows[0].keys())
    out = [tuple(_norm_cell(r[c]) for c in cols) for r in rows]
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return out


def compare(spark_df, oracle: str, sf_dir: str) -> dict[str, Any]:
    """Return a comparison report dict; report['ok'] is the verdict."""
    spark_pd = spark_df.toPandas()
    duck_pd = duckdb_connection(sf_dir).execute(oracle).fetchdf()

    report: dict[str, Any] = {
        "spark_rows": len(spark_pd),
        "duck_rows": len(duck_pd),
        "spark_cols": sorted(spark_pd.columns),
        "duck_cols": sorted(duck_pd.columns),
    }
    report["cols_ok"] = report["spark_cols"] == report["duck_cols"]
    report["rows_ok"] = report["spark_rows"] == report["duck_rows"]
    if not (report["cols_ok"] and report["rows_ok"]):
        report["ok"] = False
        return report

    s_rows = _normalize(spark_pd.to_dict("records"))
    d_rows = _normalize(duck_pd.to_dict("records"))
    report["values_ok"] = s_rows == d_rows
    if not report["values_ok"]:
        diffs = [
            (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
        ]
        report["first_diffs"] = diffs[:5]
    report["ok"] = report["values_ok"]
    return report
