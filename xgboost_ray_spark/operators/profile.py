"""Dataset profiling (training-pipeline S32): per-column statistics in one
distributed pass — the "describe at scale" a corpus pipeline runs before
training (null screening, cardinality checks, range sanity).

Everything is a single ``agg`` over the table (map-side combinable, one
shuffle to a single reduce group) followed by a JVM-side explode into one
row per column — no driver-side collect, no per-column jobs. Exact
``count_distinct`` is used here for oracle-checkability; the 100 TB knob is
swapping in ``approx_count_distinct`` (see s10b) per column.

Reference analogue: xgboost_ray validates shards only structurally
(column presence/order, reference ``matrix.py:283-358``); content
profiling happens ad hoc in pandas. Here it is a first-class operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xgboost_ray_spark.catalog import load_table
from xgboost_ray_spark.registry import register

# (column, numeric?) — o_orderdate profiles via a fixed-format string
# rendering (lexicographic == chronological for this format).
_PROFILE_COLS: tuple[tuple[str, bool], ...] = (
    ("o_orderkey", True),
    ("o_custkey", True),
    ("o_totalprice", True),
    ("o_orderstatus", False),
    ("o_orderpriority", False),
    ("o_orderdate_s", False),
)


def profile(df: DataFrame, cols: tuple[tuple[str, bool], ...]) -> DataFrame:
    """Column profile: rows (column, n, n_null, n_distinct, min_num,
    max_num, min_str, max_str) from TWO global aggregates over pruned
    scans, crossJoined as 1-row scalar frames (the repo's standard
    scalar-broadcast pattern).

    Two aggregates on purpose, not one: string min/max buffers are not
    UnsafeRow-mutable and carry no TypedImperativeAggregate, so a
    combined aggregate degrades the WHOLE stage — including the
    count-DISTINCT Expand, k rows per input row — to SortAggregate on
    wide keys (measured 3x slower at sf0.1: 2.4 s vs 0.8 s). Split, the
    distinct branch keeps count-only buffers (hash-aggregable through
    its Expand) and the min/max branch is a grouping-free global
    aggregate (no sort with zero grouping keys). Two pruned columnar
    scans beat one k-times-expanded sort at every scale.

    SQL text parsed once per branch, not ~7 aggregate Columns per
    column (the vector.dot_sql rationale; round-trips pinned in
    tests/test_build_cost.py).

    Caller contract: because the two branches each aggregate ``df``
    independently, the input frame's ENTIRE upstream plan executes
    twice. For the registered s32 entries that input is a pruned
    columnar scan, where the second pass re-reads cheap column chunks —
    the measured win over the one-aggregate SortAggregate plan. If you
    profile an expensive derived frame (joins, UDFs, shuffles upstream),
    ``persist()`` it before calling and unpersist after, or you pay its
    full construction cost twice."""
    nd_fields = ", ".join(
        f"count(DISTINCT {c}) AS {c}__nd" for c, _ in cols
    )
    mm_parts = []
    for c, is_num in cols:
        minn = f"CAST(min({c}) AS DOUBLE)" if is_num else "CAST(NULL AS DOUBLE)"
        maxn = f"CAST(max({c}) AS DOUBLE)" if is_num else "CAST(NULL AS DOUBLE)"
        mins = "CAST(NULL AS STRING)" if is_num else f"CAST(min({c}) AS STRING)"
        maxs = "CAST(NULL AS STRING)" if is_num else f"CAST(max({c}) AS STRING)"
        mm_parts.append(
            f"count({c}) AS {c}__n, count(*) - count({c}) AS {c}__nn,"
            f" {minn} AS {c}__minn, {maxn} AS {c}__maxn,"
            f" {mins} AS {c}__mins, {maxs} AS {c}__maxs"
        )
    one = df.agg(F.expr(f"struct({nd_fields})").alias("_d")).crossJoin(
        df.agg(F.expr(f"struct({', '.join(mm_parts)})").alias("_m"))
    )
    structs = ", ".join(
        f"struct('{c}' AS col_name, _m.{c}__n AS n, _m.{c}__nn AS n_null,"
        f" _d.{c}__nd AS n_distinct, _m.{c}__minn AS min_num,"
        f" _m.{c}__maxn AS max_num, _m.{c}__mins AS min_str,"
        f" _m.{c}__maxs AS max_str)"
        for c, _ in cols
    )
    return one.select(
        F.explode(F.expr(f"array({structs})")).alias("p")
    ).select("p.*")


def _profile_oracle() -> str:
    parts = []
    for c, is_num in _PROFILE_COLS:
        minn = f"CAST(MIN({c}) AS DOUBLE)" if is_num else "CAST(NULL AS DOUBLE)"
        maxn = f"CAST(MAX({c}) AS DOUBLE)" if is_num else "CAST(NULL AS DOUBLE)"
        mins = "CAST(NULL AS VARCHAR)" if is_num else f"CAST(MIN({c}) AS VARCHAR)"
        maxs = "CAST(NULL AS VARCHAR)" if is_num else f"CAST(MAX({c}) AS VARCHAR)"
        parts.append(f"""
        SELECT '{c}' AS col_name,
               COUNT({c}) AS n,
               COUNT(*) - COUNT({c}) AS n_null,
               COUNT(DISTINCT {c}) AS n_distinct,
               {minn} AS min_num, {maxn} AS max_num,
               {mins} AS min_str, {maxs} AS max_str
        FROM src""")
    union = "\nUNION ALL\n".join(parts)
    return f"""
    WITH src AS (
      SELECT *, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate_s
      FROM orders
    )
    {union}
    """


@register(
    "s32_profile",
    oracle=_profile_oracle(),
    doc="One-pass distributed data profile of orders: count / nulls / "
        "exact distinct / min / max per column, emitted as one row per "
        "column via a JVM-side explode (no driver collect, no per-column "
        "jobs). 100 TB variant swaps count_distinct for HLL sketches.",
    tags=("profile", "pipeline"),
)
def s32_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_orderdate_s", F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
    )
    return profile(orders, _PROFILE_COLS)


# ---------------------------------------------------------------------------
# S32 variant — data-quality validation report
# ---------------------------------------------------------------------------
@register(
    "s32b_data_quality",
    oracle="""
    SELECT 'orphan_lineitems' AS check_name,
           (SELECT COUNT(*) FROM lineitem
            WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
             AS n_violations
    UNION ALL
    SELECT 'orders_null_custkey',
           (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
    UNION ALL
    SELECT 'negative_extendedprice',
           (SELECT COUNT(*) FROM lineitem WHERE l_extendedprice < 0)
    UNION ALL
    SELECT 'discount_out_of_range',
           (SELECT COUNT(*) FROM lineitem
            WHERE l_discount < 0 OR l_discount > 1)
    UNION ALL
    SELECT 'shipdate_before_orderdate',
           (SELECT COUNT(*) FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate < o_orderdate)
    """,
    doc="Constraint validation report — the admission gate a training "
        "pipeline runs before ingesting a snapshot: referential "
        "integrity (orphan lineitems), null keys, domain ranges "
        "(price >= 0, discount in [0,1]), and the cross-table temporal "
        "invariant ship >= order. ONE lineitem pass: a single LEFT "
        "join against orders answers both the orphan check (null build "
        "side) and the temporal check, and the range rules ride the "
        "same scan as conditional aggregates — one fact shuffle total, "
        "where check-per-query spelling scanned lineitem 4x and "
        "shuffled it twice (the plan audit caught the duplication). "
        "The null-key check is a second orders scan pruned to one "
        "column. The report is five numbers regardless of table size. "
        "Output contract: (check_name, n_violations).",
    tags=("profile", "pipeline", "quality"),
)
def s32b_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def viol(cond, name: str):
        # CASE WHEN over a possibly-null condition: null (orphan rows in
        # the temporal check) falls to the ELSE 0 branch on both engines.
        # coalesce: SUM over an EMPTY frame is NULL, but the oracle's
        # scalar COUNT(*) subqueries say 0 — an empty snapshot must report
        # zero violations, not null, exactly in the admission gate's
        # degenerate case.
        return (
            F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))
            .cast("bigint")
            .alias(name)
        )

    joined = li.select(
        "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"
    ).join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left",
    )
    li_checks = joined.agg(
        viol(F.col("o_orderkey").isNull(), "orphan_lineitems"),
        viol(F.col("l_extendedprice") < 0, "negative_extendedprice"),
        viol(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
            "discount_out_of_range",
        ),
        viol(
            F.col("l_shipdate") < F.col("o_orderdate"),
            "shipdate_before_orderdate",
        ),
    )
    null_cust = orders.agg(
        viol(F.col("o_custkey").isNull(), "orders_null_custkey")
    )
    return li_checks.crossJoin(F.broadcast(null_cust)).selectExpr(
        """stack(5,
             'orphan_lineitems', orphan_lineitems,
             'orders_null_custkey', orders_null_custkey,
             'negative_extendedprice', negative_extendedprice,
             'discount_out_of_range', discount_out_of_range,
             'shipdate_before_orderdate', shipdate_before_orderdate
           ) AS (check_name, n_violations)"""
    )


# ---------------------------------------------------------------------------
# Distribution drift report (PSI between two time slices)
# ---------------------------------------------------------------------------
DRIFT_SPLIT_TS = "2024-01-15"
DRIFT_BIN_WIDTH = 20
DRIFT_N_BINS = 11  # floor(value/20) capped at 10 -> bins 0..10


@register(
    "s32c_drift_report",
    oracle=f"""
    WITH binned AS (
      SELECT event_type,
             CASE WHEN ts < TIMESTAMP '{DRIFT_SPLIT_TS}' THEN 'ref'
                  ELSE 'cur' END AS slice,
             LEAST(CAST(FLOOR(value / {DRIFT_BIN_WIDTH}) AS BIGINT),
                   {DRIFT_N_BINS - 1}) AS bin
      FROM events
    ), per_bin AS (
      SELECT event_type, bin,
             COUNT(CASE WHEN slice = 'ref' THEN 1 END) AS c_ref,
             COUNT(CASE WHEN slice = 'cur' THEN 1 END) AS c_cur
      FROM binned
      GROUP BY event_type, bin
    ), props AS (
      SELECT event_type, bin,
             (CAST(c_ref AS DOUBLE) + 1)
               / (SUM(c_ref) OVER (PARTITION BY event_type) + {DRIFT_N_BINS})
               AS p_ref,
             (CAST(c_cur AS DOUBLE) + 1)
               / (SUM(c_cur) OVER (PARTITION BY event_type) + {DRIFT_N_BINS})
               AS p_cur
      FROM per_bin
    )
    SELECT event_type,
           ROUND(SUM((p_cur - p_ref) * LN(p_cur / p_ref)), 8) AS psi,
           CAST(COUNT(*) AS BIGINT) AS n_bins
    FROM props
    GROUP BY event_type
    """,
    doc="Training-serving drift report: Population Stability Index of the "
        "value distribution between a reference slice (first two weeks) "
        "and the current slice, per event type. Fixed-width bins keep the "
        "histogram deterministic (no quantile estimation step), Laplace "
        "smoothing (+1 per observed bin) keeps PSI finite when a bin "
        "empties on one side. One scan -> one (type, bin) aggregate -> "
        "one window over at most types x bins rows -> one final "
        "aggregate: the heavy shuffle carries histogram counts, never "
        "events. ln is transcendental, so the sum rounds to 8 decimals "
        "for cross-engine stability. PSI > 0.2 is the usual retrain "
        "trigger.",
    tags=("profile", "ml"),
)
def s32c_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events")
    binned = events.select(
        "event_type",
        F.when(
            F.col("ts") < F.lit(DRIFT_SPLIT_TS).cast("timestamp"), "ref"
        ).otherwise("cur").alias("slice"),
        F.least(
            F.floor(F.col("value") / DRIFT_BIN_WIDTH).cast("bigint"),
            F.lit(DRIFT_N_BINS - 1).cast("bigint"),
        ).alias("bin"),
    )
    per_bin = binned.groupBy("event_type", "bin").agg(
        F.count(F.when(F.col("slice") == "ref", 1)).alias("c_ref"),
        F.count(F.when(F.col("slice") == "cur", 1)).alias("c_cur"),
    )
    wt = W.partitionBy("event_type")
    props = per_bin.select(
        "event_type",
        (
            (F.col("c_ref").cast("double") + 1)
            / (F.sum("c_ref").over(wt) + DRIFT_N_BINS)
        ).alias("p_ref"),
        (
            (F.col("c_cur").cast("double") + 1)
            / (F.sum("c_cur").over(wt) + DRIFT_N_BINS)
        ).alias("p_cur"),
    )
    term = (F.col("p_cur") - F.col("p_ref")) * F.log(
        F.col("p_cur") / F.col("p_ref")
    )
    return props.groupBy("event_type").agg(
        F.round(F.sum(term), 8).alias("psi"),
        F.count("*").alias("n_bins"),
    )


# ---------------------------------------------------------------------------
# Exact per-group outlier flags (3-sigma), integer cross-multiplied
# ---------------------------------------------------------------------------
SIGMA_K = 3  # flag |x - mean| > K * sample-stddev


# Shared with s25l_stream_outlier_guard: the streaming guard broadcasts
# these same full-table stats, so both spellings answer to ONE oracle.
OUTLIER_FLAGS_SQL = f"""
    WITH c AS (
      SELECT event_id, event_type,
             value,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
      FROM events
    ), s AS (
      SELECT event_id, event_type, value, v,
             -- COUNT(v), not COUNT(*): must pair with the null-skipping
             -- SUMs (matches exact_outlier_flags' _n)
             COUNT(v) OVER w AS n,
             CAST(SUM(v) OVER w AS HUGEINT) AS s1,
             CAST(SUM(v * v) OVER w AS HUGEINT) AS s2
      FROM c
      WINDOW w AS (PARTITION BY event_type)
    )
    SELECT event_id, event_type, value
    FROM s
    WHERE n >= 2
      AND (n * v - s1) * (n * v - s1) * (n - 1)
            > {SIGMA_K * SIGMA_K} * n * (n * s2 - s1 * s1)
"""


@register(
    "s32d_outlier_flags",
    oracle=OUTLIER_FLAGS_SQL,
    doc=f"Per-group {SIGMA_K}-sigma outlier detection with an EXACT "
        "predicate: |x-mean| > K*stddev is cross-multiplied into pure "
        "integer arithmetic on cent-scaled values — "
        "(n*x-S1)^2*(n-1) > K^2*n*(n*S2-S1^2) — so the flag is "
        "bit-reproducible (no sqrt, no float accumulation) and the "
        "anomaly report hash-matches across engines and partition "
        "layouts. One window shuffle on the group key; sums fit "
        "DECIMAL(38,0)/HUGEINT up to ~1e6-row groups at these magnitudes "
        "— beyond that, drop the fixed-point factor a digit. The 100 TB "
        "shape is identical to the profiling pass: partial aggregates, "
        "then a broadcast-back of |groups| stat rows instead of the "
        "window (same result, join instead of sort-based window).",
    tags=("events", "profiling", "quality"),
)
def s32d_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        (F.col("value").cast("decimal(12,2)") * 100).cast("bigint").alias("v"),
    )
    return (
        exact_outlier_flags(ev, "event_type", "v")
        .filter(F.col("is_outlier"))
        .select("event_id", "event_type", "value")
    )


def exact_outlier_flags(df: DataFrame, group_col: str, cents_col: str) -> DataFrame:
    """Append ``is_outlier``: |x - mean| > K*stddev per ``group_col``
    (K = ``SIGMA_K``), decided by the cross-multiplied INTEGER predicate
    over a fixed-point bigint value column —
    (n*x-S1)^2*(n-1) > K^2*n*(n*S2-S1^2) — so the flag is
    bit-reproducible (no sqrt, no float accumulation). Reusable
    anomaly-mask kernel; s32d is its registered events spelling.
    """
    from pyspark.sql import Window as W

    DEC38 = "decimal(38,0)"
    w = W.partitionBy(group_col)
    st = df.withColumns(
        {
            # count(col), not count(*): _s1/_s2 sum only non-null values,
            # so a null-bearing column with count(*) uses an inflated n —
            # mean/stddev wrong, false (un)flags. NULL-value rows get a
            # NULL flag (SQL comparison semantics), never flagged.
            "_n": F.count(cents_col).over(w),
            "_s1": F.sum(cents_col).over(w).cast(DEC38),
            # square in DECIMAL: a bigint*bigint square overflows long
            # for fixed-point values beyond ~3e9; the decimal product is
            # exact and the sum stays well inside 38 digits
            "_s2": F.sum(
                F.col(cents_col).cast(DEC38) * F.col(cents_col).cast(DEC38)
            ).over(w),
        }
    )
    return st.withColumn(
        "is_outlier", outlier_flag("_n", "_s1", "_s2", cents_col)
    ).drop("_n", "_s1", "_s2")


def outlier_flag(n_col: str, s1_col: str, s2_col: str, value_col: str) -> F.Column:
    """The exact integer ``SIGMA_K``-sigma flag of ``value_col`` against
    its group's non-null count ``n_col``, DECIMAL(38,0) sum ``s1_col`` and
    sum of squares ``s2_col``: (n*x-S1)^2*(n-1) > K^2*n*(n*S2-S1^2). One
    spelling for the window kernel (:func:`exact_outlier_flags`) and the
    streaming guard's broadcast stats (s25l)."""
    DEC38 = "decimal(38,0)"
    n = F.col(n_col).cast(DEC38)
    v = F.col(value_col).cast(DEC38)
    dev = n * v - F.col(s1_col)
    lhs = dev * dev * (n - 1)
    rhs = (
        F.lit(SIGMA_K * SIGMA_K).cast(DEC38)
        * n
        * (n * F.col(s2_col) - F.col(s1_col) * F.col(s1_col))
    )
    # Overflow fails CLOSED, identically to the DuckDB oracle: past the
    # documented ~1e6-row/“drop a fixed-point digit” bound, Spark's
    # non-ANSI decimal arithmetic yields NULL where DuckDB's HUGEINT
    # errors loudly — left unguarded, a NULL side would make the
    # comparison false and silently UNFLAG real outliers. A non-null
    # input value with a null predicate side can only mean DECIMAL(38,0)
    # overflow, so raise instead of returning a wrong mask.
    overflow = F.col(value_col).isNotNull() & (lhs.isNull() | rhs.isNull())
    flag = (F.col(n_col) >= 2) & (lhs > rhs)
    return F.when(
        overflow,
        F.raise_error(
            F.lit(
                f"outlier_flag: DECIMAL(38,0) overflow in the integer "
                f"{SIGMA_K}-sigma predicate (group too large or values too hot "
                "for the fixed-point scale); rescale the cents column "
                "down a digit"
            )
        ).cast("boolean"),
    ).otherwise(flag)
