"""The dot product over ``array<float>`` embeddings, as a JVM-side
expression (zip_with/aggregate) — no Python in the hot path.

The operators compose :func:`dot_sql` (one parse per expression);
:func:`dot` builds the same fold Column by Column and is the reference
that pins it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: str | Column, b: str | Column) -> Column:
    """Sequential-double dot product of two array columns (exact order)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def dot_sql(a: str, b: str) -> str:
    """SQL text of the EXACT expression :func:`dot` builds — same
    ``zip_with``/``aggregate`` fold, same casts, same 0.0D seed — for
    callers that already hold their operands as SQL text.

    Why it exists: composing :func:`dot` Column-by-Column costs ~80 py4j
    round-trips (each HOF lambda is a JVM call), and an LSH bucket
    expression holds 32 dots — profiled at 1.4 s of driver-side plan
    construction per query build, worse still against a remote cluster
    where every round-trip crosses the network. Parsing the equivalent
    SQL text is ONE round-trip for the whole expression. Parity with
    :func:`dot` (bit-identical results) is pinned by
    tests/test_ann.py::test_dot_sql_matches_dot; keep the two in lockstep.
    """
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v)"
    )

