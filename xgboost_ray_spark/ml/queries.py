"""Registry entries for the ML surface (S30): GBT train/predict, the
ranker, and the closed-form linear track.

GBT training is seeded but not SQL-expressible, so these entries omit the
oracle (the driver records rows-only checks). The real correctness gate for
ML is the parity test suite (tests/test_ml.py): distributed training must
learn the reference's deterministic mapping with 100% accuracy — the
reference's own oracle pattern (tests/test_end_to_end.py:96-211).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xgboost_ray_spark.catalog import load_table
from xgboost_ray_spark.matrix import MatrixSpec
from xgboost_ray_spark.ml.params import GBTParams
from xgboost_ray_spark.ml.train import predict, train
from xgboost_ray_spark.operators.sampling import spark_bucket, sql_bucket
from xgboost_ray_spark.registry import DEC, register

LINEITEM_FEATURES = [
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_linenumber",
]


def lineitem_training_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem numeric features + derived binary label (FIXTURES.md B:
    label = l_returnflag = 'R', mirroring fixture A3's shape)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        *LINEITEM_FEATURES,
        (F.col("l_returnflag") == "R").cast("int").alias("label"),
    )


@register(
    "s30_gbt_train_predict",
    # No SQL oracle (tree fitting is not SQL-expressible) => the driver
    # records rows-only. The REAL regression gate is the pinned golden
    # confusion matrix at sf0.01 (tests/test_ml.py::
    # test_s30_confusion_matrix_matches_golden_counts): the run is seeded
    # and deterministic, so those four counts move on any train/predict
    # regression.
    oracle=None,
    doc="Distributed GBT train (binary objective, 5 rounds) on lineitem + "
        "broadcast predict; returns the label x prediction confusion "
        "matrix. Parity with reference train/predict (main.py:1341,1810).",
    tags=("ml",),
)
def s30_gbt_train_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = lineitem_training_frame(spark, sf_dir)
    spec = MatrixSpec(label_cols=("label",), feature_cols=tuple(LINEITEM_FEATURES))
    result = train(
        {"objective": "binary:logistic", "max_depth": 4, "eta": 0.3},
        df,
        spec,
        num_boost_round=5,
        gbt_params=GBTParams(num_workers=2, seed=42),
    )
    scored = predict(result, df, spec)
    return (
        scored.groupBy(
            F.col("label").cast("int").alias("label"),
            # Threshold, don't truncate: the xgb backend's binary
            # predict emits the raw probability in (0,1), which
            # cast('int') floors to all-zeros; MLlib emits exact
            # 0.0/1.0 classes, so >= 0.5 is backend-neutral and the
            # golden counts are unchanged (same fix as
            # SparkXGBClassifier.predict, estimators.py).
            (F.col("prediction") >= 0.5).cast("int").alias("prediction"),
        )
        .agg(F.count("*").alias("n"))
    )


@register(
    "s30b_ltr_rank",
    oracle=None,  # ML: rows-only here; monotonicity asserted in tests/test_ml.py
    doc="Learning-to-rank: orders grouped by customer as query groups, "
        "binary relevance = price above 200k; trains the ranker and "
        "returns per-relevance row counts and mean score (monotonicity — "
        "avg_score(rel=1) > avg_score(rel=0) — asserted in "
        "tests/test_ml.py). The MLlib ranker is a pointwise regressor "
        "over unclustered rows; only the xgboost path's prepare_shards "
        "sorts query groups, for DMatrix(qid=...). "
        "Parity: sklearn.py:921-1083.",
    tags=("ml", "ranking"),
)
def s30b_ltr_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xgboost_ray_spark.ml.estimators import SparkXGBRanker

    orders = load_table(spark, sf_dir, "orders")
    # Query groups = customers; binary relevance = price above 200k.
    df = orders.select(
        F.col("o_custkey").alias("qid"),
        F.col("o_totalprice").alias("f_price"),
        F.dayofmonth("o_orderdate").cast("double").alias("f_day"),
        (F.col("o_totalprice") > 200000).cast("int").alias("rel"),
    )
    est = SparkXGBRanker(n_estimators=10, max_depth=3)
    est.fit(df, "rel", qid_col="qid")
    scored = est.predict(df)
    return (
        scored.groupBy("rel")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("prediction"), 4).alias("avg_score"),
        )
        .orderBy("rel")
    )


# ---------------------------------------------------------------------------
# S30c/d — closed-form linear model: the sufficient-statistics train path
# ---------------------------------------------------------------------------
_OLS_STATS_SQL = """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6)))
                AS DOUBLE) AS sxy,
           CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))
                AS DOUBLE) AS sxx
    FROM lineitem GROUP BY l_returnflag
"""


def _ols_solve(n_col: str, sx_col: str, sy_col: str,
               sxy_col: str, sxx_col: str):
    """Normal-equation (slope, intercept) expressions over named
    sufficient-statistics columns — THE one spelling of the solve,
    shared by train (s30c), score (s30d), the CV complements (s30e) and
    the cumulative prefixes (s30f), so a numerics change cannot silently
    fork train vs score vs CV."""
    n, sx, sy = F.col(n_col), F.col(sx_col), F.col(sy_col)
    slope = (n * F.col(sxy_col) - sx * sy) / (n * F.col(sxx_col) - sx * sx)
    intercept = (sy - slope * sx) / n
    return slope, intercept


def _ols_resid():
    """Residual of the broadcast model columns against the fact row —
    shared by every scoring pass (s30d/s30e/s30f)."""
    return F.col("l_extendedprice") - (
        F.col("intercept") + F.col("slope") * F.col("l_quantity")
    )


def _rmse(denom):
    """ROUND(sqrt(SUM(resid^2 accumulated in DECIMAL) / denom), 4) —
    the partition-layout-independent RMSE aggregate."""
    resid = _ols_resid()
    return F.round(
        F.sqrt(F.sum((resid * resid).cast(DEC)).cast("double") / denom), 4
    ).alias("rmse")


def ols_model(li: DataFrame) -> DataFrame:
    """UNROUNDED per-returnflag OLS model ``(l_returnflag, n, slope,
    intercept)`` from one partial-agg pass; :func:`ols_coefficients`
    rounds it for hashing, s30d broadcasts it for scoring."""
    from xgboost_ray_spark.registry import dsum

    stats = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        dsum(F.col("l_quantity"), "sx"),
        dsum(F.col("l_extendedprice"), "sy"),
        dsum(F.col("l_quantity") * F.col("l_extendedprice"), "sxy"),
        dsum(F.col("l_quantity") * F.col("l_quantity"), "sxx"),
    )
    slope, intercept = _ols_solve("n", "sx", "sy", "sxy", "sxx")
    return stats.select(
        "l_returnflag",
        "n",
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


def ols_coefficients(li: DataFrame) -> DataFrame:
    """Per-returnflag simple linear regression l_extendedprice ~ l_quantity
    via the normal equations over sufficient statistics.

    This IS how linear models train at 100 TB: ONE partial-aggregated pass
    reduces the data to per-group (n, Sx, Sy, Sxy, Sxx) — bytes
    proportional to groups, never rows — and the solve is arithmetic on
    those scalars. The sums accumulate in DECIMAL(28,6) (exact for
    integral quantities x 2dp prices), so unlike iterative fitters the
    learned coefficients are bit-reproducible across engines, partition
    layouts and cluster sizes. Slope/intercept are continuous values,
    rounded to 6dp for the hash. Reference analogue: train() reduces
    gradients with allreduce (main.py:1341); here the 'allreduce' is
    Spark's partial aggregation.
    """
    m = ols_model(li)
    return m.select(
        "l_returnflag",
        "n",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
    )


@register(
    "s30c_linear_model_train",
    oracle=f"""
    WITH s AS ({_OLS_STATS_SQL})
    SELECT l_returnflag, n,
           ROUND((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
           ROUND((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 6)
             AS intercept
    FROM s
    """,
    doc="Distributed model training with an EXACT oracle: per-group OLS "
        "(price ~ quantity) solved from sufficient statistics — one "
        "partial-agg pass, decimal-exact sums, closed-form solve. The "
        "hash-checkable member of the ML family (GBT entries are "
        "rows-only: tree fitting is not SQL-expressible).",
    tags=("ml", "train"),
)
def s30c_linear_model_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    return ols_coefficients(li)


@register(
    "s30d_linear_model_score",
    oracle=f"""
    WITH s AS ({_OLS_STATS_SQL}),
    m AS (
      SELECT l_returnflag,
             (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope,
             (sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n AS intercept
      FROM s
    )
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(sqrt(CAST(SUM(CAST(
                    (l.l_extendedprice
                       - (m.intercept + m.slope * l.l_quantity))
                    * (l.l_extendedprice
                       - (m.intercept + m.slope * l.l_quantity))
                  AS DECIMAL(28,6))) AS DOUBLE)
                      / COUNT(*)), 4) AS rmse
    FROM lineitem l JOIN m USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
    doc="Distributed scoring of the trained linear model: the per-group "
        "coefficients (a few rows) BROADCAST back onto the fact scan — "
        "the train->predict round trip of the reference (broadcast "
        "booster, main.py:1750-1806) with a closed-form model, so even "
        "the predictions are oracle-checkable. Emits per-group RMSE; "
        "residual squares accumulate in DECIMAL(28,6) (like s30e/s30f) "
        "so the score is partition-layout-independent, then 4dp round.",
    tags=("ml", "predict"),
)
def s30d_linear_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    model = ols_model(li).drop("n")
    return (
        li.join(F.broadcast(model), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), _rmse(F.count("*")))
    )


# ---------------------------------------------------------------------------
# Exact K-fold cross-validation over the closed-form OLS track
# ---------------------------------------------------------------------------
CV_FOLDS = 5
# Row key -> fold: THE shared md5-bucket idiom (sampling.spark_bucket),
# mod K. linenumber is 1..7 so orderkey*10 + linenumber is collision-free.
def _cv_fold_spark():
    # Built lazily: classic-mode Column construction needs an active
    # SparkContext, and this module imports at registry load time.
    return spark_bucket(
        F.col("l_orderkey") * 10 + F.col("l_linenumber"), CV_FOLDS
    )


_CV_FOLD_SQL = sql_bucket("l_orderkey * 10 + l_linenumber", CV_FOLDS)


def _fold_stats(df: DataFrame) -> DataFrame:
    """Per-(returnflag, fold) sufficient statistics kept as DECIMAL —
    NOT cast to double — so the complement subtraction (s30e) and the
    prefix cumsum (s30f) stay exact. One spelling for both entries."""
    return df.groupBy("l_returnflag", "fold").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast(DEC)).alias("sx_d"),
        F.sum(F.col("l_extendedprice").cast(DEC)).alias("sy_d"),
        F.sum(
            (F.col("l_quantity") * F.col("l_extendedprice")).cast(DEC)
        ).alias("sxy_d"),
        F.sum(
            (F.col("l_quantity") * F.col("l_quantity")).cast(DEC)
        ).alias("sxx_d"),
    )


@register(
    "s30e_cv_ols",
    oracle=f"""
    WITH f AS (
      SELECT l_returnflag, {_CV_FOLD_SQL} AS fold,
             l_quantity, l_extendedprice
      FROM lineitem
    ), s AS (
      SELECT l_returnflag, fold,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(l_quantity AS DECIMAL(28,6))) AS sx_d,
             SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS sy_d,
             SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6)))
               AS sxy_d,
             SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS sxx_d
      FROM f GROUP BY 1, 2
    ), c AS (
      SELECT l_returnflag, fold, n,
             CAST(SUM(n) OVER w - n AS BIGINT) AS cn,
             CAST(SUM(sx_d) OVER w - sx_d AS DOUBLE) AS csx,
             CAST(SUM(sy_d) OVER w - sy_d AS DOUBLE) AS csy,
             CAST(SUM(sxy_d) OVER w - sxy_d AS DOUBLE) AS csxy,
             CAST(SUM(sxx_d) OVER w - sxx_d AS DOUBLE) AS csxx
      FROM s WINDOW w AS (PARTITION BY l_returnflag)
    ), m AS (
      SELECT l_returnflag, fold, n,
             (cn*csxy - csx*csy) / (cn*csxx - csx*csx) AS slope,
             (csy - (cn*csxy - csx*csy) / (cn*csxx - csx*csx) * csx) / cn
               AS intercept
      FROM c
    )
    SELECT fl.l_returnflag, CAST(fl.fold AS BIGINT) AS fold,
           m.n AS n_test,
           ROUND(sqrt(CAST(SUM(CAST(
               (fl.l_extendedprice
                  - (m.intercept + m.slope * fl.l_quantity))
               * (fl.l_extendedprice
                  - (m.intercept + m.slope * fl.l_quantity))
             AS DECIMAL(28,6))) AS DOUBLE) / m.n), 4) AS rmse
    FROM f fl
    JOIN m ON fl.l_returnflag = m.l_returnflag AND fl.fold = m.fold
    GROUP BY fl.l_returnflag, fl.fold, m.n
    """,
    doc=f"EXACT {CV_FOLDS}-fold cross-validation of the closed-form OLS "
        "model — the sufficient-statistics pattern composed: per-(group, "
        "fold) stats are computed ONCE in one partial-agg pass, and each "
        "fold's held-out model is derived ALGEBRAICALLY as (total - "
        "fold) over decimal-exact sums — K models from one data pass, "
        "no per-fold rescans (the trick that makes CV affordable at "
        "100 TB). Fold membership is the md5-bucket idiom (layout- and "
        "cluster-size-independent); held-out RMSE accumulates residual "
        "squares in DECIMAL so even the scoring pass is "
        "order-independent. Hash-checked end to end.",
    tags=("ml", "train", "cv"),
)
def s30e_cv_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_quantity",
        "l_extendedprice",
        _cv_fold_spark().alias("fold"),
    )
    stats = _fold_stats(li)
    w = W.partitionBy("l_returnflag")
    comp = stats.select(
        "l_returnflag",
        "fold",
        "n",
        (F.sum("n").over(w) - F.col("n")).cast("bigint").alias("cn"),
        (F.sum("sx_d").over(w) - F.col("sx_d")).cast("double").alias("csx"),
        (F.sum("sy_d").over(w) - F.col("sy_d")).cast("double").alias("csy"),
        (F.sum("sxy_d").over(w) - F.col("sxy_d")).cast("double").alias("csxy"),
        (F.sum("sxx_d").over(w) - F.col("sxx_d")).cast("double").alias("csxx"),
    )
    slope, intercept = _ols_solve("cn", "csx", "csy", "csxy", "csxx")
    model = comp.select(
        "l_returnflag",
        "fold",
        F.col("n").alias("n_test"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )
    return (
        li.join(F.broadcast(model), ["l_returnflag", "fold"])
        .groupBy("l_returnflag", "fold", "n_test")
        .agg(_rmse(F.col("n_test")))
        .select("l_returnflag", "fold", "n_test", "rmse")
    )


@register(
    "s30f_learning_curve",
    oracle=f"""
    WITH f AS (
      SELECT l_returnflag, {_CV_FOLD_SQL} AS fold,
             l_quantity, l_extendedprice
      FROM lineitem
    ), s AS (
      SELECT l_returnflag, fold,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(l_quantity AS DECIMAL(28,6))) AS sx_d,
             SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS sy_d,
             SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6)))
               AS sxy_d,
             SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS sxx_d
      FROM f WHERE fold < {CV_FOLDS - 1}
      GROUP BY 1, 2
    ), cum AS (
      SELECT l_returnflag, fold,
             CAST(SUM(n) OVER w AS BIGINT) AS tn,
             CAST(SUM(sx_d) OVER w AS DOUBLE) AS csx,
             CAST(SUM(sy_d) OVER w AS DOUBLE) AS csy,
             CAST(SUM(sxy_d) OVER w AS DOUBLE) AS csxy,
             CAST(SUM(sxx_d) OVER w AS DOUBLE) AS csxx
      FROM s
      WINDOW w AS (PARTITION BY l_returnflag ORDER BY fold
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), m AS (
      SELECT l_returnflag, CAST(fold + 1 AS BIGINT) AS train_folds, tn,
             (tn*csxy - csx*csy) / (tn*csxx - csx*csx) AS slope,
             (csy - (tn*csxy - csx*csy) / (tn*csxx - csx*csx) * csx) / tn
               AS intercept
      FROM cum
    )
    SELECT h.l_returnflag, m.train_folds, m.tn AS n_train,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           ROUND(sqrt(CAST(SUM(CAST(
               (h.l_extendedprice
                  - (m.intercept + m.slope * h.l_quantity))
               * (h.l_extendedprice
                  - (m.intercept + m.slope * h.l_quantity))
             AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)), 4) AS rmse
    FROM f h JOIN m ON h.l_returnflag = m.l_returnflag
    WHERE h.fold = {CV_FOLDS - 1}
    GROUP BY h.l_returnflag, m.train_folds, m.tn
    """,
    doc=f"Learning curve from ONE data pass: nested training subsets are "
        f"the cumulative fold prefixes (folds 0..j, j < {CV_FOLDS - 1}), "
        "each model derived algebraically from a decimal-exact window "
        "CUMSUM over the per-fold sufficient statistics, all scored "
        "against the same held-out fold. The sample-efficiency "
        "diagnostic ('would more data help?') costs one aggregate pass "
        "plus a |groups|*K broadcast — never K rescans. Hash-checked "
        "end to end; rmse must trend down as train_folds grows.",
    tags=("ml", "train", "cv"),
)
def s30f_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_quantity",
        "l_extendedprice",
        _cv_fold_spark().alias("fold"),
    )
    train = li.filter(F.col("fold") < CV_FOLDS - 1)
    stats = _fold_stats(train)
    w = (
        W.partitionBy("l_returnflag")
        .orderBy("fold")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = stats.select(
        "l_returnflag",
        "fold",
        F.sum("n").over(w).cast("bigint").alias("tn"),
        F.sum("sx_d").over(w).cast("double").alias("csx"),
        F.sum("sy_d").over(w).cast("double").alias("csy"),
        F.sum("sxy_d").over(w).cast("double").alias("csxy"),
        F.sum("sxx_d").over(w).cast("double").alias("csxx"),
    )
    slope, intercept = _ols_solve("tn", "csx", "csy", "csxy", "csxx")
    model = cum.select(
        "l_returnflag",
        (F.col("fold") + 1).cast("bigint").alias("train_folds"),
        F.col("tn").alias("n_train"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )
    heldout = li.filter(F.col("fold") == CV_FOLDS - 1)
    return (
        heldout.join(F.broadcast(model), "l_returnflag")
        .groupBy("l_returnflag", "train_folds", "n_train")
        .agg(F.count("*").alias("n_test"), _rmse(F.count("*")))
    )
