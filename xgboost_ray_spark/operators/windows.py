"""Window functions: ranking, analytic frames, top-k per group.

SURVEY.md §2.2 S13, S14, S16.  Determinism policy: any function whose value
depends on exact row order (row_number, ntile, lag/lead, running frames)
gets a TOTAL order (unique key tiebreak); rank/dense_rank additionally get a
coarse key so real ties exercise their semantics.

Scale notes: a window partitioned by a high-cardinality key (custkey) is one
shuffle + in-partition sort; running-sum frames accumulate in DECIMAL so the
DuckDB oracle (segment-tree evaluation, different add order) still matches
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from xgboost_ray_spark.catalog import load_table
from xgboost_ray_spark.registry import DEC, register


# ---------------------------------------------------------------------------
# S13 — Ranking functions
# ---------------------------------------------------------------------------
@register(
    "s13_window_rank",
    oracle="""
    SELECT
      o_orderkey,
      o_orderpriority,
      CAST(ROW_NUMBER() OVER (
        PARTITION BY o_orderpriority
        ORDER BY CAST(FLOOR(o_totalprice) AS INT) DESC, o_orderkey
      ) AS BIGINT) AS rn,
      CAST(RANK() OVER (
        PARTITION BY o_orderpriority
        ORDER BY CAST(FLOOR(o_totalprice / 10000) AS INT) DESC
      ) AS BIGINT) AS rnk,
      CAST(DENSE_RANK() OVER (
        PARTITION BY o_orderpriority
        ORDER BY CAST(FLOOR(o_totalprice / 10000) AS INT) DESC
      ) AS BIGINT) AS drnk,
      CAST(NTILE(4) OVER (
        PARTITION BY o_orderpriority
        ORDER BY CAST(FLOOR(o_totalprice) AS INT) DESC, o_orderkey
      ) AS BIGINT) AS quartile
    FROM orders
    WHERE o_orderkey <= 4000
    """,
    doc="row_number/rank/dense_rank/ntile; rank keys are coarsened so true "
        "ties exercise rank-vs-dense_rank semantics deterministically.",
    tags=("window",),
)
def s13_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    total = W.partitionBy("o_orderpriority").orderBy(
        F.floor("o_totalprice").cast("int").desc(), F.col("o_orderkey")
    )
    coarse = W.partitionBy("o_orderpriority").orderBy(
        F.floor(F.col("o_totalprice") / 10000).cast("int").desc()
    )
    return orders.filter(F.col("o_orderkey") <= 4000).select(
        "o_orderkey",
        "o_orderpriority",
        F.row_number().over(total).cast("bigint").alias("rn"),
        F.rank().over(coarse).cast("bigint").alias("rnk"),
        F.dense_rank().over(coarse).cast("bigint").alias("drnk"),
        F.ntile(4).over(total).cast("bigint").alias("quartile"),
    )


# ---------------------------------------------------------------------------
# S14 — Analytic functions with frames
# ---------------------------------------------------------------------------
@register(
    "s14_window_analytic",
    oracle="""
    SELECT
      o_custkey,
      o_orderkey,
      o_totalprice,
      LAG(o_totalprice) OVER w AS prev_price,
      LEAD(o_totalprice) OVER w AS next_price,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
            OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_total,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
            OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
            / COUNT(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            AS moving_avg3,
      FIRST_VALUE(o_orderkey) OVER w AS first_order
    FROM orders
    WHERE o_custkey <= 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="lag/lead/first_value + running & moving frames (rowsBetween); "
        "frame sums accumulate in DECIMAL for cross-engine bit-stability.",
    tags=("window",),
)
def s14_window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    mov = w.rowsBetween(-2, W.currentRow)
    price_dec = F.col("o_totalprice").cast(DEC)
    return orders.filter(F.col("o_custkey") <= 200).select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.sum(price_dec).over(run).cast("double").alias("running_total"),
        (
            F.sum(price_dec).over(mov).cast("double") / F.count("*").over(mov)
        ).alias("moving_avg3"),
        F.first("o_orderkey").over(w).alias("first_order"),
    )


BAND = 1000  # price-range frame half-width


@register(
    "s14b_range_frame",
    oracle=f"""
    SELECT
      o_custkey,
      o_orderkey,
      o_totalprice,
      COUNT(*) OVER w AS n_in_band,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER w AS DOUBLE)
        AS sum_in_band
    FROM orders
    WHERE o_custkey <= 200
    WINDOW w AS (
      PARTITION BY o_custkey ORDER BY o_totalprice
      RANGE BETWEEN {BAND} PRECEDING AND CURRENT ROW
    )
    """,
    doc=f"RANGE window frame: per customer, orders within {BAND} price "
        "units below the current order (value-based frame, peers included "
        "— well-defined under ties, unlike ROWS). DECIMAL accumulation "
        "keeps the frame sum bit-stable across engines. One shuffle on "
        "o_custkey; the frame scan is an in-partition sliding pointer.",
    tags=("window",),
)
def s14b_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-BAND, W.currentRow)
    )
    return orders.filter(F.col("o_custkey") <= 200).select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.count("*").over(w).alias("n_in_band"),
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double")
        .alias("sum_in_band"),
    )


# ---------------------------------------------------------------------------
# S16 — Top-k per group
# ---------------------------------------------------------------------------
def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    k: int,
    rank_col: str,
) -> DataFrame:
    """Generic top-k per group via row_number ≤ k.

    One shuffle on the group key; at scale Spark evaluates the rank with a
    partial sort (WindowGroupLimit pushes the k-bound below the shuffle),
    and AQE handles group-key skew.  ``order_cols`` must be a total order
    for deterministic output.  The 1-based rank is kept in ``rank_col``.
    """
    if rank_col in df.columns:
        # withColumn would silently REPLACE the data column with the
        # 1-based rank — right rows, corrupted values. Fail loud instead
        # (the repo-wide generic-helper policy).
        raise ValueError(
            f"top_k_per_group: rank_col {rank_col!r} already exists in the "
            f"input; pick a name not in {sorted(df.columns)}"
        )
    w = W.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn(
        rank_col, F.row_number().over(w).cast("bigint")
    ).filter(F.col(rank_col) <= k)


@register(
    "s16_topk_per_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rk
    FROM (
      SELECT
        o_orderpriority, o_orderkey, o_totalprice,
        CAST(ROW_NUMBER() OVER (
          PARTITION BY o_orderpriority
          ORDER BY o_totalprice DESC, o_orderkey
        ) AS BIGINT) AS rk
      FROM orders
    )
    WHERE rk <= 5
    """,
    doc="Top-5 orders per priority class (window row_number <= k).",
    tags=("window",),
)
def s16_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    return top_k_per_group(
        orders,
        group_cols=["o_orderpriority"],
        order_cols=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=5,
        rank_col="rk",
    )


# ---------------------------------------------------------------------------
# S13 variant — distribution ranks (percent_rank / cume_dist)
# ---------------------------------------------------------------------------
@register(
    "s13b_distribution_ranks",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM orders
    WHERE o_orderkey <= 4000
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY FLOOR(o_totalprice)::INT DESC, o_orderkey)
    """,
    doc="Distribution ranks — where each order sits inside its priority "
        "class: percent_rank = (rank-1)/(n-1) and cume_dist = "
        "rows_at_or_before/n. Both are single IEEE divisions of the "
        "integer rank machinery, so values hash-match with no rounding; "
        "the two functions share s13's one (priority; price, key) "
        "shuffle+sort. The floor() key coarsening keeps tie order "
        "deterministic across engines.",
    tags=("window",),
)
def s13b_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.floor("o_totalprice").cast("int").desc(), F.col("o_orderkey")
    )
    return orders.filter(F.col("o_orderkey") <= 4000).select(
        "o_orderkey",
        "o_orderpriority",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# ---------------------------------------------------------------------------
# S14 variant — gaps and islands: consecutive-day activity streaks
# ---------------------------------------------------------------------------
@register(
    "s14e_gaps_islands",
    oracle="""
    SELECT user_id,
           MIN(d) AS island_start,
           MAX(d) AS island_end,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY d) AS INT) AS anchor
      FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
    )
    GROUP BY user_id, anchor
    """,
    doc="Gaps-and-islands: maximal runs of consecutive active days per "
        "user. The classic date-minus-row_number trick — within a user, "
        "consecutive days share (day - rank) as a constant anchor, so one "
        "window plus one groupBy finds every island with no self-join and "
        "no iteration. Scale: the window and the groupBy share the same "
        "user_id-dominated shuffle; the distinct-day projection collapses "
        "the event stream to at most users x days rows BEFORE the window, "
        "so state is bounded by active days, not raw events.",
    tags=("window", "sessionization"),
)
def s14e_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("d"))
    islands = days.withColumn("anchor", F.date_sub(F.col("d"), rn))
    return (
        islands.groupBy("user_id", "anchor")
        .agg(
            F.min("d").alias("island_start"),
            F.max("d").alias("island_end"),
            F.count("*").alias("n_days"),
        )
        .drop("anchor")
    )
