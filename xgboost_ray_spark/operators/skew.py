"""Skew-handling operators: salted aggregation and salted join.

At 100 TB a handful of hot keys (the null user, the default account, a
viral document) concentrate a shuffle partition onto one task. AQE's skew
join handles sort-merge cases adaptively; these operators are the explicit,
plan-level treatment for the cases AQE can't rewrite (hot-key group-bys,
broadcast-ineligible dimension joins).

Both are deterministic (the salt is a hash of a carried column, not
rand()), so results — and the DuckDB oracles — are exactly reproducible.

  salted_agg : two-phase aggregation — groupBy(key, salt) partial, then
               groupBy(key) final. The hot key fans out over
               ``SALT_BUCKETS`` tasks in phase 1; phase 2 only merges
               ``SALT_BUCKETS`` rows/key.
  salted_join: fact side salted by a deterministic hash, dimension side
               replicated ``SALT_BUCKETS`` times — the hot join key's rows
               spread over ``SALT_BUCKETS`` tasks instead of one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


SALT_BUCKETS = 16


def _salt(col: Column) -> Column:
    """Deterministic salt in [0, SALT_BUCKETS): xxhash64 of a carried
    column."""
    return F.pmod(F.xxhash64(col), F.lit(SALT_BUCKETS)).cast("int")


def salted_agg(
    df: DataFrame, key: str, aggs: list[tuple[str, str, str]], *, salt_col: str
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs``: (function, column, alias) with function in
    {count, sum, min, max} — the partial/final decomposable set
    (avg = sum/count composed by the caller). Pass ``"*"`` as the column
    for COUNT(*) semantics; a named column gives SQL COUNT(col), which
    skips nulls — the two differ whenever the column is nullable.
    """
    salted = df.withColumn("__salt", _salt(F.col(salt_col)))
    partial_exprs = []
    final_exprs = []
    for fn, col, alias in aggs:
        if fn == "count":
            partial_exprs.append(F.count(col).alias(f"__p_{alias}"))
            final_exprs.append(F.sum(f"__p_{alias}").alias(alias))
        elif fn == "sum":
            partial_exprs.append(F.sum(col).alias(f"__p_{alias}"))
            final_exprs.append(F.sum(f"__p_{alias}").alias(alias))
        elif fn == "min":
            partial_exprs.append(F.min(col).alias(f"__p_{alias}"))
            final_exprs.append(F.min(f"__p_{alias}").alias(alias))
        elif fn == "max":
            partial_exprs.append(F.max(col).alias(f"__p_{alias}"))
            final_exprs.append(F.max(f"__p_{alias}").alias(alias))
        else:
            raise ValueError(f"non-decomposable aggregate: {fn}")
    partial = salted.groupBy(key, "__salt").agg(*partial_exprs)
    return partial.groupBy(key).agg(*final_exprs)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    *,
    salt_col: str,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: fact rows salt deterministically; the dimension
    replicates once per salt value (dim must be the small side — its size
    multiplies by ``SALT_BUCKETS``).

    Only fact-side-preserving joins are legal: the dim side is replicated
    ``SALT_BUCKETS`` times, so any ``how`` that emits unmatched DIM rows
    (right/full outer) would surface each unmatched replica as its own
    spurious output row — up to ``SALT_BUCKETS`` duplicates per dim key. The
    guard raises rather than silently corrupting the result.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "semi", "left_anti", "leftanti", "anti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} would emit per-replica rows for "
            "unmatched dim keys (dim is exploded once per salt bucket); "
            f"only fact-preserving joins are salt-safe: {sorted(allowed)}"
        )
    f = fact.withColumn("__salt", _salt(F.col(salt_col)))
    d = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1)))
    )
    joined = f.join(d, [on, "__salt"], how)
    return joined.drop("__salt")


# ---------------------------------------------------------------------------
# Registry entries: salting changes the PLAN, never the answer — the oracles
# are the plain unsalted SQL.
# ---------------------------------------------------------------------------
from pyspark.sql import SparkSession  # noqa: E402

from xgboost_ray_spark.catalog import load_table  # noqa: E402
from xgboost_ray_spark.registry import register, sql_dsum  # noqa: E402


@register(
    "s09c_salted_agg",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           {sql_dsum("value", "sum_value")},
           MAX(value) AS max_value
    FROM events
    GROUP BY event_type
    """,
    doc="Skew-safe two-phase aggregation: groupBy(event_type, salt) partial "
        "then groupBy(event_type) final — a hot key fans out over "
        f"{SALT_BUCKETS} tasks in phase 1 instead of landing on one. Deterministic salt "
        "(xxhash64 of event_id), so the answer — and the oracle — is the "
        "plain GROUP BY.",
    tags=("agg", "skew"),
)
def s09c_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "vdec", F.col("value").cast("decimal(28,6)")
    )
    out = salted_agg(
        ev,
        "event_type",
        [
            # "*" pins COUNT(*) to match the oracle exactly; a named
            # column would drop null rows and drift on nullable data.
            ("count", "*", "n"),
            ("sum", "vdec", "sum_dec"),
            ("max", "value", "max_value"),
        ],
        salt_col="event_id",
    )
    return out.select(
        "event_type",
        F.col("n"),
        F.col("sum_dec").cast("double").alias("sum_value"),
        "max_value",
    )


@register(
    "s05b_salted_join",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_events,
           {sql_dsum("value", "sum_value")}
    FROM events
    JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
    doc=f"Skew-safe fact-dim join: events salt on event_id ({SALT_BUCKETS} "
        f"buckets), customer replicates {SALT_BUCKETS}x — a hot user_id "
        f"spreads over {SALT_BUCKETS} tasks. "
        "Used when the dim is broadcast-ineligible and AQE's sort-merge "
        "skew split cannot apply. Answer identical to the plain join.",
    tags=("join", "skew"),
)
def s05b_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    from xgboost_ray_spark.registry import dsum

    joined = salted_join(ev, cust, "user_id", salt_col="event_id")
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        dsum(F.col("value"), "sum_value"),
    )
