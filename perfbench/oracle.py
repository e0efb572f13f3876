"""Result checks against the registry's DuckDB oracles.

The comparison is exact and type-strict, like the project's oracle tests:
both sides are normalised cell by cell (Decimal -> str, float -> repr,
NaN/NaT -> null, datetime -> isoformat), columns are compared by name and
rows as sorted multisets.
"""

from __future__ import annotations

import decimal
import math
import os


def _cell(v):
    import pandas as pd

    if v is None or v is pd.NaT:
        return ("null", None)
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v))
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        return ("null", None) if math.isnan(v) else ("float", repr(v))
    if isinstance(v, (bytes, bytearray)):
        return ("bytes", bytes(v))
    if hasattr(v, "isoformat"):
        return ("ts", pd.Timestamp(v).isoformat())
    if isinstance(v, (list, tuple)):
        return ("seq", tuple(_cell(x) for x in v))
    if type(v).__module__ == "numpy":
        if getattr(v, "ndim", 0):
            return ("seq", tuple(_cell(x) for x in v.tolist()))
        return _cell(v.item())
    return (type(v).__name__, v)


def _rows(pdf) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=repr)


class Oracle:
    """One DuckDB connection with a view per table of ``data_dir``."""

    def __init__(self, data_dir: str, tables) -> None:
        import duckdb

        self.con = duckdb.connect()
        for name in tables:
            path = os.path.join(data_dir, f"{name}.parquet")
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def check(self, spark_df, sql: str) -> str | None:
        """None when the frame matches the oracle, else a short reason."""
        got = spark_df.toPandas()
        want = self.con.execute(sql).fetchdf()
        if sorted(got.columns) != sorted(want.columns):
            return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        if len(got) != len(want):
            return f"rows {len(got)} != {len(want)}"
        bad = sum(a != b for a, b in zip(_rows(got), _rows(want)))
        return f"{bad}/{len(got)} rows differ" if bad else None

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def close(self) -> None:
        self.con.close()
