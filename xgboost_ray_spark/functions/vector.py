"""Vector column functions over ``array<float>`` embeddings.

JVM-side expressions (zip_with/aggregate) — no Python in the hot path; a
vectorized Pandas-UDF fallback exists for ops that outgrow expression form.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


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


def norm(a: str | Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: str | Column, b: str | Column) -> Column:
    """Cosine similarity with a zero-norm clamp: a zero-norm operand
    clamps its norm to 1 (yielding 0.0, never NaN from 0/0), matching
    :func:`cosine_pandas`, functions/ann.py and
    ``operators/similarity.search_codes``. The similarity.py top-k and
    near-dup scorers do NOT clamp: they divide by the raw norm. NULL
    vectors propagate NULL. Parity on degenerate rows is pinned in
    tests/test_null_safety.py::test_cosine_pandas_null_and_zero_norm."""
    na, nb = norm(a), norm(b)
    na = F.when(na == 0.0, F.lit(1.0)).otherwise(na)
    nb = F.when(nb == 0.0, F.lit(1.0)).otherwise(nb)
    return dot(a, b) / (na * nb)


@F.pandas_udf(DoubleType())
def cosine_pandas(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched cosine for very wide vectors (numpy BLAS per batch).

    Same semantics as the module's expression path (:func:`cosine`) and
    the ANN kernels: a NULL vector on either side yields a NULL
    similarity (never a task crash — np.stack over None raised before),
    and zero-norm vectors clamp that operand's norm to 1 (as
    :func:`cosine`, ann.py and ``similarity.search_codes`` do) instead of
    emitting NaN. The
    degenerate-row parity with :func:`cosine` is pinned in
    tests/test_null_safety.py. Vectors within a column are assumed
    fixed-dimension, as everywhere else in the embedding surface.
    """
    n = len(a)
    mask = a.isna().to_numpy() | b.isna().to_numpy()
    out = pd.array([None] * n, dtype="Float64")
    idx = np.flatnonzero(~mask)
    if idx.size:
        am = np.stack(a.iloc[idx].to_numpy())
        bm = np.stack(b.iloc[idx].to_numpy())
        num = (am * bm).sum(axis=1)
        na = np.linalg.norm(am, axis=1)
        nb = np.linalg.norm(bm, axis=1)
        na[na == 0.0] = 1.0
        nb[nb == 0.0] = 1.0
        out[idx] = num / (na * nb)
    return pd.Series(out)
