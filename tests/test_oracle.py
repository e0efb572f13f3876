"""Every registered query with an oracle must hash-match DuckDB at sf0.001.

This is the local twin of the driver's t2 gate (sf0.01) — small scale for
speed; the comparison logic is identical.
"""

from __future__ import annotations

import pytest

from xgboost_ray_spark.registry import all_queries

from .conftest import SF_ORACLE, SF_SMOKE
from .oracle_utils import compare, duck_connection

_QUERIES = all_queries()
_WITH_ORACLE = [n for n, s in _QUERIES.items() if s.oracle is not None]
_ROWS_ONLY = [n for n, s in _QUERIES.items() if s.oracle is None]


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_match(spark, name):
    spec = _QUERIES[name]
    df = spec.build(spark, SF_SMOKE)
    compare(df, spec.oracle, SF_SMOKE)


def test_no_oracle_is_empty():
    """A hash match of two empty results checks nothing, so every oracle
    must return at least one row at ``SF_ORACLE``. DuckDB only."""
    con = duck_connection(SF_ORACLE)
    empty = [
        n for n in _WITH_ORACLE
        if con.execute(_QUERIES[n].oracle).fetchone() is None
    ]
    assert empty == [], f"oracles with no rows at {SF_ORACLE}: {empty}"


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_runs(spark, name):
    spec = _QUERIES[name]
    df = spec.build(spark, SF_SMOKE)
    rows = df.count()
    assert rows >= 0
    assert df.schema is not None


def test_entry_smoke(spark):
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(entry_mod.oracle_sql()) <= set(entry_mod.queries())
