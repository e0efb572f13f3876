"""Functional train/predict API — parity with xgboost_ray's top level.

``train(params, dtrain, ...)`` mirrors xgboost_ray.train
(xgboost_ray/main.py:1341): xgboost-style param dict in, trained model +
evals_result out.  The backend follows ``HAS_XGBOOST`` alone:

  - ``xgb``   : true distributed XGBoost under Spark barrier execution
                (ml/barrier.py) — wherever the xgboost package imports.
  - ``mllib`` : Spark MLlib GBT (the Spark-native gradient-boosted trees) —
                everywhere else; objective/params are translated.

``predict`` broadcasts the fitted model and scores with ``transform`` /
``mapInPandas`` — predictions stay a DataFrame column, so the reference's
``combine_data`` inverse-shuffle (matrix.py:1114-1157) is unnecessary; a
numpy round-trip helper lives in xgboost_ray_spark.matrix for parity.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.ml.feature import VectorAssembler
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xgboost_ray_spark.matrix import MatrixSpec
from xgboost_ray_spark.ml.params import GBTParams

try:  # pragma: no cover - exercised only where xgboost is installed
    import xgboost  # noqa: F401

    HAS_XGBOOST = True
except ImportError:
    HAS_XGBOOST = False

FEATURES_COL = "__features__"
_BINARY_OBJECTIVES = {"binary:logistic", "binary:hinge"}
_MULTI_OBJECTIVES = {"multi:softmax", "multi:softprob"}
_REG_OBJECTIVES = {"reg:squarederror", "reg:linear", "reg:absoluteerror"}


@dataclass
class TrainResult:
    """Parity with the reference's return shape: booster + evals_result +
    timings (xgboost_ray/main.py:1323-1328, 1715-1718)."""

    model: Any
    evals_result: dict = field(default_factory=dict)
    train_time_s: float = 0.0
    backend: str = "mllib"
    # Items callbacks put_queue'd — delivered at stage end (the reference's
    # live queue drain, main.py:902-922, becomes stage-end delivery).
    queued: list = field(default_factory=list)


def assemble_features(
    df: DataFrame, spec: MatrixSpec, *, scoring: bool = False
) -> DataFrame:
    """Project role columns and assemble the MLlib feature vector.

    ``scoring=True`` keeps EVERY input column riding the frame (the xgb
    backend's predict path keeps them, and a prediction that drops the
    caller's id columns cannot be joined back); training keeps
    ``spec.training_cols`` — the columns ``prepare_shards`` carries —
    so nothing extra rides the fit. No path clusters query
    groups here: every MLlib learner is pointwise, and only
    ``prepare_shards`` sorts by qid, for ``DMatrix(qid=...)``.
    """
    df = spec.prepare(df)
    feats = spec.features_of(df)
    if not scoring:
        df = df.select(*spec.training_cols(df))
    return VectorAssembler(inputCols=feats, outputCol=FEATURES_COL).transform(df)


def _mllib_estimator(params: dict, num_boost_round: int, gbt: GBTParams):
    """Translate an xgboost-style param dict to the MLlib GBT estimator."""
    objective = params.get("objective", "reg:squarederror")
    common = dict(
        featuresCol=FEATURES_COL,
        labelCol="__label__",
        maxIter=num_boost_round,
        maxDepth=params.get("max_depth", 6),
        stepSize=params.get("eta", params.get("learning_rate", 0.3)),
        subsamplingRate=params.get("subsample", 1.0),
        seed=gbt.seed,
    )
    # Random-forest mode (num_parallel_tree > 1, reference sklearn.py:631-637,
    # :908-914): n parallel trees in one round maps to MLlib RandomForest with
    # numTrees = num_parallel_tree — NOT a 1-iteration GBT, which would be a
    # single tree pretending to be a forest.
    n_parallel = int(params.get("num_parallel_tree", 1))
    if n_parallel > 1:
        rf_common = dict(
            featuresCol=FEATURES_COL,
            labelCol="__label__",
            # xgboost grows num_parallel_tree trees PER boosting round, so a
            # direct train() call with R rounds holds R*n trees — match that
            # (estimators force num_boost_round=1, leaving numTrees=n).
            numTrees=n_parallel * max(num_boost_round, 1),
            maxDepth=params.get("max_depth", 6),
            subsamplingRate=params.get("subsample", 1.0),
            seed=gbt.seed,
        )
        if "colsample_bynode" in params:
            # Per-node column subsampling -> MLlib featureSubsetStrategy
            # (accepts a fraction as a string).
            rf_common["featureSubsetStrategy"] = str(
                float(params["colsample_bynode"])
            )
        if objective in _BINARY_OBJECTIVES or objective in _MULTI_OBJECTIVES:
            from pyspark.ml.classification import RandomForestClassifier

            return RandomForestClassifier(**rf_common), "classification"
        from pyspark.ml.regression import RandomForestRegressor

        return RandomForestRegressor(**rf_common), "regression"
    if objective in _BINARY_OBJECTIVES:
        from pyspark.ml.classification import GBTClassifier

        return GBTClassifier(**common), "classification"
    if objective in _MULTI_OBJECTIVES:
        # MLlib GBT is binary-only; multi-class runs on RandomForest, the
        # documented Spark-native fallback (num_parallel_tree analogue).
        from pyspark.ml.classification import RandomForestClassifier

        common.pop("stepSize")
        common.pop("subsamplingRate")
        common.pop("maxIter")
        common["numTrees"] = max(num_boost_round * 4, 64)
        common["maxDepth"] = max(params.get("max_depth", 6), 8)
        return RandomForestClassifier(**common), "classification"
    if objective in _REG_OBJECTIVES or objective.startswith("reg:"):
        from pyspark.ml.regression import GBTRegressor

        return GBTRegressor(**common), "regression"
    if objective.startswith("rank:"):
        # Pointwise ranking approximation on MLlib (true LambdaMART needs
        # the xgboost backend): the regressor never reads qid, so its
        # input is not clustered by query group.
        from pyspark.ml.regression import GBTRegressor

        return GBTRegressor(**common), "ranking"
    raise ValueError(f"unsupported objective for the mllib backend: {objective}")


def train(
    params: dict,
    dtrain: DataFrame,
    spec: MatrixSpec,
    num_boost_round: int = 10,
    *,
    evals: list[tuple[DataFrame, str]] | None = None,
    gbt_params: GBTParams | None = None,
    callbacks: list | None = None,
) -> TrainResult:
    """Distributed GBT training (parity: xgboost_ray/main.py:1341-1747).

    The driver-side retry loop (reference main.py:1606-1713) wraps the fit:
    on failure we retry up to ``gbt_params.max_restarts`` times — Spark
    already re-runs failed stages internally, so a retry here corresponds
    to the reference's whole-training restart from checkpoint.

    The backend is the xgboost barrier path wherever xgboost imports
    (``HAS_XGBOOST``), MLlib everywhere else.

    ``callbacks``: DistributedCallback lifecycle hooks (reference
    callback.py:14-58). Under the mllib backend hooks run driver-side
    around load/fit (MLlib workers are opaque); under the xgb backend they
    run inside each barrier task with the true worker rank.
    """
    from xgboost_ray_spark.ml.callback import WorkerContext, fire_hook

    gbt = (gbt_params or GBTParams()).validated()
    if not spec.label_cols:
        raise ValueError("MatrixSpec.label_cols is required for training")

    if HAS_XGBOOST:
        from xgboost_ray_spark.ml.barrier import train_barrier

        return train_barrier(
            params, dtrain, spec, num_boost_round, gbt, evals,
            callbacks=callbacks,
        )

    cb_ctx = WorkerContext(rank=0, num_workers=gbt.num_workers)
    fire_hook(callbacks, "on_init", cb_ctx)
    fire_hook(callbacks, "before_data_loading", cb_ctx)
    assembled = assemble_features(dtrain, spec)
    assembled = assembled.withColumn(
        "__label__", F.col(spec.label_cols[0]).cast("double")
    )
    if spec.weight_col:
        assembled = assembled.withColumn("__w__", F.col(spec.weight_col))
    est, kind = _mllib_estimator(params, num_boost_round, gbt)
    if spec.weight_col and est.hasParam("weightCol"):
        est = est.setParams(weightCol="__w__")

    # GBT makes one full pass per boosting round; without an explicit
    # persist every round re-reads the source and re-runs the assembler
    # (the reference keeps shards resident in the object store for the same
    # reason — matrix.py:882-885). MEMORY_AND_DISK so a 100TB run spills
    # instead of OOMing.
    from pyspark import StorageLevel

    # Iterative training wants every core busy each round; a few large input
    # splits (common for single-file small-SF inputs) would serialize the
    # whole fit. One up-front round-robin shuffle is amortized over all
    # rounds (reference analogue: repartition to num_actors, main.py:1161).
    sc = dtrain.sparkSession.sparkContext
    target = max(gbt.num_workers, sc.defaultParallelism)
    if assembled.rdd.getNumPartitions() < target:
        assembled = assembled.repartition(target)
    assembled = assembled.persist(StorageLevel.MEMORY_AND_DISK)
    fire_hook(callbacks, "after_data_loading", cb_ctx)
    fire_hook(callbacks, "before_train", cb_ctx)
    from xgboost_ray_spark.ml.barrier import run_with_restarts
    from xgboost_ray_spark.ml.stopping import StopFlag

    start = time.perf_counter()
    stop_flag = StopFlag(gbt.stop_flag_path) if gbt.stop_flag_path else None
    try:
        # The same restart/stop loop as the xgb backend (train_barrier).
        model = run_with_restarts(
            lambda _: est.fit(assembled), gbt.max_restarts, stop_flag=stop_flag
        )
    finally:
        assembled.unpersist()
    elapsed = time.perf_counter() - start
    fire_hook(callbacks, "after_train", cb_ctx, result=model)

    evals_result: dict = {}
    if evals:
        from pyspark.ml.evaluation import (
            BinaryClassificationEvaluator,
            MulticlassClassificationEvaluator,
            RegressionEvaluator,
        )

        # BinaryClassificationEvaluator rejects rawPrediction vectors of
        # length > 2, so multi-class objectives need the multiclass
        # evaluator (logloss, matching xgboost's default mlogloss).
        n_class = int(params.get("num_class", 2) or 2)
        multi = kind == "classification" and (
            n_class > 2 or str(params.get("objective", "")).startswith("multi")
        )
        for eval_df, name in evals:
            ea = assemble_features(eval_df, spec)
            ea = ea.withColumn(
                "__label__", F.col(spec.label_cols[0]).cast("double")
            )
            scored = model.transform(ea)
            if multi:
                metric = MulticlassClassificationEvaluator(
                    labelCol="__label__", metricName="logLoss"
                ).evaluate(scored)
                evals_result[name] = {"mlogloss": [metric]}
            elif kind == "classification":
                metric = BinaryClassificationEvaluator(
                    labelCol="__label__", metricName="areaUnderROC"
                ).evaluate(scored)
                evals_result[name] = {"auc": [metric]}
            else:
                metric = RegressionEvaluator(
                    labelCol="__label__", metricName="rmse"
                ).evaluate(scored)
                evals_result[name] = {"rmse": [metric]}

    if gbt.checkpoint_path:
        model.write().overwrite().save(gbt.checkpoint_path)

    return TrainResult(
        model=model,
        evals_result=evals_result,
        train_time_s=elapsed,
        queued=cb_ctx.queued,
    )


def predict(
    result_or_model: Any,
    data: DataFrame,
    spec: MatrixSpec,
    *,
    output_col: str = "prediction",
) -> DataFrame:
    """Distributed prediction (parity: xgboost_ray/main.py:1750-1806).

    MLlib models broadcast themselves inside ``transform``; predictions stay
    a column on the input rows, so no reorder step exists (the reference's
    combine_data inverse shuffle is a non-problem in DataFrame land).

    Dispatches on the model kind: an xgboost ``Booster`` (the xgb-backend
    TrainResult.model) has no ``transform``, so it routes through
    :func:`xgboost_ray_spark.ml.barrier.predict_barrier` — broadcast
    booster, mapInPandas scoring, argmax for 2-D (softprob) outputs.
    """
    model = result_or_model.model if isinstance(result_or_model, TrainResult) else result_or_model
    if not hasattr(model, "transform"):
        import pickle

        from xgboost_ray_spark.ml.barrier import predict_barrier

        return predict_barrier(
            pickle.dumps(model), data, spec, output_col=output_col
        )
    # scoring=True keeps passthrough columns (id columns etc.) like the
    # xgb backend does.
    assembled = assemble_features(data, spec, scoring=True)
    scored = model.transform(assembled)
    drop = [FEATURES_COL, "rawPrediction", "probability"]
    if output_col != "prediction" and "prediction" in scored.columns:
        scored = scored.withColumnRenamed("prediction", output_col)
    return scored.drop(*[c for c in drop if c in scored.columns])


def predict_proba(model: Any, data: DataFrame, spec: MatrixSpec) -> DataFrame:
    """Probability predictions as an array column (sklearn.py:851-865
    analogue: probability stays distributed, never reshaped on the driver).
    Boosters (xgb backend) route through the barrier scorer like
    :func:`predict`."""
    from pyspark.ml.functions import vector_to_array

    if not hasattr(model, "transform"):
        import pickle

        from xgboost_ray_spark.ml.barrier import predict_proba_barrier

        return predict_proba_barrier(pickle.dumps(model), data, spec)
    assembled = assemble_features(data, spec, scoring=True)
    scored = model.transform(assembled)
    return scored.withColumn(
        "probability_arr", vector_to_array("probability")
    ).drop(FEATURES_COL, "rawPrediction", "probability")
