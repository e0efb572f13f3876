"""Hyperparameter search — parity with the reference's Tune integration
(xgboost_ray/tune.py:60-126).

The reference plugs ``train()`` into Ray Tune: each trial is a distributed
training run with auto-injected checkpoint/report callbacks and placement
resources. The Spark-native shape: each trial is a distributed ``fit`` on
the cluster, trials iterate on the driver (grid or sampled), model selection
on a held-out split.  ``pyspark.ml.tuning.CrossValidator`` covers MLlib
Pipelines; this module provides the same surface for this package's
sklearn-style estimators.

Scale: one trial at a time, each using the whole cluster — the reference's
PACK placement under Tune (tune.py:107-126) concentrates each trial too.
Trial-level parallelism on Spark would partition executors per trial;
that is a scheduler concern, documented rather than simulated.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame

TRAIN_FRACTION = 0.8  # share of rows in the training split; the rest validate


@dataclass
class TrialResult:
    params: dict
    metric: float
    model: Any


@dataclass
class SearchResult:
    """best_* mirror what the reference reports to Tune per trial
    (train-time metrics + checkpointed best model)."""

    best_params: dict
    best_metric: float
    best_model: Any
    trials: list[TrialResult] = field(default_factory=list)


def param_grid(**space: list) -> list[dict]:
    """Expand a param space dict into the cross-product grid
    (ParamGridBuilder semantics)."""
    keys = list(space)
    return [dict(zip(keys, combo)) for combo in itertools.product(*space.values())]


def grid_search(
    estimator_factory: Callable[..., Any],
    df: DataFrame,
    label_col: str,
    grid: list[dict],
    *,
    feature_cols: list[str] | None = None,
    metric: str = "auc",
    seed: int = 42,
) -> SearchResult:
    """Fit one distributed trial per grid point; select on a held-out split.

    ``estimator_factory(**params)`` builds a fresh estimator per trial
    (clone semantics — the reference's sklearn clone conformance,
    test_sklearn.py). ``metric``: 'auc' (maximize) or 'rmse' (minimize).
    """
    from pyspark.ml.evaluation import (
        BinaryClassificationEvaluator,
        RegressionEvaluator,
    )

    grid = list(grid)
    if not grid:
        # Fail before the splits are built and cached — max() over zero
        # trials would otherwise raise an opaque empty-sequence error
        # after the expensive setup.
        raise ValueError("grid_search: empty parameter grid")
    train_df, val_df = df.randomSplit(
        [TRAIN_FRACTION, 1.0 - TRAIN_FRACTION], seed=seed
    )
    # Every trial rescans both splits; pin them once.
    train_df = train_df.cache()
    val_df = val_df.cache()

    trials: list[TrialResult] = []
    try:
        for params in grid:
            est = estimator_factory(**params)
            est.fit(train_df, label_col, feature_cols=feature_cols)
            if metric == "auc":
                # AUC needs the continuous score, not the thresholded
                # class label — evaluating on hard 0/1 predictions
                # collapses the ROC to two points and ties every trial
                # with the same confusion matrix.
                from pyspark.sql import functions as F

                scored = est.predict_proba(val_df).withColumn(
                    "__score__", F.col("probability_arr")[1]
                )
                val = BinaryClassificationEvaluator(
                    labelCol=label_col, rawPredictionCol="__score__",
                    metricName="areaUnderROC",
                ).evaluate(scored)
            elif metric == "rmse":
                scored = est.predict(val_df)
                val = RegressionEvaluator(
                    labelCol=label_col, predictionCol="prediction",
                    metricName="rmse",
                ).evaluate(scored)
            else:
                raise ValueError(f"unsupported metric: {metric}")
            trials.append(TrialResult(params=params, metric=val, model=est))
    finally:
        train_df.unpersist()
        val_df.unpersist()

    # NaN metrics (e.g. AUC over a single-class validation split) compare
    # unpredictably under max/min and could silently win selection; pick
    # among finite metrics only, and fail loudly if none exists.
    import math

    finite = [t for t in trials if not math.isnan(t.metric)]
    if not finite:
        raise ValueError(
            "grid_search: every trial produced a NaN metric "
            f"({metric!r}); validation split likely degenerate"
        )
    best = (max if metric == "auc" else min)(finite, key=lambda t: t.metric)
    return SearchResult(
        best_params=best.params,
        best_metric=best.metric,
        best_model=best.model,
        trials=trials,
    )
