"""ML-layer tests — the reference's own test strategy (SURVEY.md §5).

The core oracle pattern is ported from the reference's end-to-end suite
(xgboost_ray tests/test_end_to_end.py:96-211): a deterministic, perfectly
learnable mapping must be learned to 100% accuracy by *distributed*
training — i.e. distributed == logically single-node. Matrix-role tests
mirror tests/test_matrix.py (column ordering :64-72, qid handling
:451-505); sharding round-trips mirror :74-113.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from xgboost_ray_spark.matrix import MatrixSpec, ShardingMode, combine_data, shard
from xgboost_ray_spark.ml.estimators import (
    SparkXGBClassifier,
    SparkXGBRanker,
    SparkXGBRegressor,
    SparkXGBRFClassifier,
    SparkXGBRFRegressor,
)
from xgboost_ray_spark.ml.params import GBTParams
from xgboost_ray_spark.ml.train import predict, train


def learnable_frame(spark, repeat: int = 64):
    """Deterministic greedy-learnable binary mapping (label = x1 AND x2),
    repeated so every partition sees every pattern — the shape of the
    reference's fixture (test_end_to_end.py:72-86: each split has positive
    marginal gain, so a depth-2 tree learns it exactly)."""
    rows = [(0.0, 0.0, 0), (0.0, 1.0, 0), (1.0, 0.0, 0), (1.0, 1.0, 1)]
    data = rows * repeat
    return spark.createDataFrame(data, ["x1", "x2", "label"])


def fourclass_frame(spark, repeat: int = 8):
    """The reference's exact 4-row / 4-class fixture
    (test_end_to_end.py:72-86): f0 -> 0, f1 -> 1, f2+f3 -> 2, f2+!f3 -> 3."""
    rows = [
        (1.0, 0.0, 0.0, 0.0, 0),
        (0.0, 1.0, 0.0, 0.0, 1),
        (0.0, 0.0, 1.0, 1.0, 2),
        (0.0, 0.0, 1.0, 0.0, 3),
    ]
    return spark.createDataFrame(rows * repeat, ["f0", "f1", "f2", "f3", "label"])


# ---------------------------------------------------------------------------
# The parity oracle: distributed training learns the mapping exactly
# ---------------------------------------------------------------------------
def test_distributed_train_learns_mapping(spark):
    df = learnable_frame(spark)
    spec = MatrixSpec(label_cols=("label",), feature_cols=("x1", "x2"))
    result = train(
        {"objective": "binary:logistic", "max_depth": 3, "eta": 0.5},
        df,
        spec,
        num_boost_round=20,
        gbt_params=GBTParams(num_workers=2, seed=7),
    )
    scored = predict(result, df, spec)
    wrong = scored.filter(F.col("prediction") != F.col("label")).count()
    assert wrong == 0, "distributed GBT must learn the deterministic mapping"
    assert result.train_time_s > 0
    assert result.backend in ("mllib", "xgb")


def test_s30_confusion_matrix_matches_golden_counts(spark):
    """The registered s30 entry has no SQL oracle (tree fitting is not
    SQL-expressible), so the driver's check is rows-only. This pins the
    next-best thing, the reference's own parity-oracle spirit
    (test_end_to_end.py:96-211): the seeded train->predict round trip is
    deterministic, so the full confusion matrix at sf0.01 is a fixture.
    Any regression in sharding, training, or broadcast-predict moves
    these counts. The counts are a function of the session's parallelism
    (data sharding feeds the tree learner), so they are pinned under THIS
    suite's fixture config (local[8,2], 8 shuffle partitions) — stable
    run-to-run, and re-derived only if the fixture session changes.
    The counts ALSO encode the installed library versions (pyspark 4.1.2
    MLlib tree learner): after a dependency bump, a failure here means
    RE-DERIVE the pin, not a code regression."""
    from tests.conftest import SF_ORACLE
    from xgboost_ray_spark.registry import all_queries

    build = all_queries()["s30_gbt_train_predict"].build
    got = sorted(
        (r.label, r.prediction, r.n)
        for r in build(spark, SF_ORACLE).collect()
    )
    assert got == [(0, 0, 39886), (0, 1, 68), (1, 0, 19964), (1, 1, 82)]


def test_s30b_ranker_output_matches_golden_counts(spark):
    """Same pattern for the ranker's rows-only entry: the seeded fit ->
    predict round trip is deterministic under the fixture session, so the
    per-relevance counts and 4dp mean scores are a pinned fixture. The
    hi-relevance tier scoring far above the lo tier is also the
    monotonicity property, now with exact values. Like the confusion
    matrix above, the values encode the installed pyspark/MLlib version:
    a failure right after a dependency bump means re-derive, not
    regression."""
    from tests.conftest import SF_ORACLE
    from xgboost_ray_spark.registry import all_queries

    got = sorted(
        tuple(r)
        for r in all_queries()["s30b_ltr_rank"]
        .build(spark, SF_ORACLE)
        .collect()
    )
    assert got == [(0, 5946, 0.0191), (1, 9054, 0.9874)]


def test_regressor_learns_linear_map(spark):
    pdf = [(float(i), float(i) * 2.0) for i in range(256)]
    df = spark.createDataFrame(pdf, ["x", "y"])
    est = SparkXGBRegressor(n_estimators=30, max_depth=4)
    est.fit(df, "y", feature_cols=["x"])
    scored = est.predict(df)
    rmse = math.sqrt(
        scored.select(F.avg((F.col("prediction") - F.col("y")) ** 2)).first()[0]
    )
    assert rmse < 20.0  # range is 0..510; tree regressor approximates well


def test_classifier_proba_and_nclasses(spark):
    df = learnable_frame(spark)
    est = SparkXGBClassifier(n_estimators=20, max_depth=3, learning_rate=0.5)
    est.fit(df, "label", feature_cols=["x1", "x2"])
    assert est.n_classes_ == 2
    proba = est.predict_proba(df)
    row = proba.select("probability_arr").first()[0]
    assert len(row) == 2
    assert abs(sum(row) - 1.0) < 1e-6


def test_multiclass_learns_reference_fixture(spark):
    """The reference's own multi-class oracle (test_end_to_end.py:96-103):
    100% accuracy on the deterministic 4-class mapping."""
    df = fourclass_frame(spark)
    est = SparkXGBClassifier(n_estimators=8, max_depth=3)
    est.fit(df, "label", feature_cols=["f0", "f1", "f2", "f3"])
    assert est.n_classes_ == 4
    wrong = (
        est.predict(df)
        .filter(F.col("prediction") != F.col("label"))
        .count()
    )
    assert wrong == 0


def test_rf_variants_fit_predict(spark):
    df = learnable_frame(spark)
    for cls in (SparkXGBRFClassifier, SparkXGBRFRegressor):
        est = cls(n_estimators=16, max_depth=4)
        est.fit(df, "label", feature_cols=["x1", "x2"])
        assert est.predict(df).count() == df.count()


def test_ranker_requires_qid_and_orders_groups(spark):
    rows = []
    for qid in range(16):
        for rel in (0, 1, 2):
            rows.append((float(rel) + 0.01 * qid, float(qid % 3), qid, rel))
    df = spark.createDataFrame(rows, ["f1", "f2", "qid", "rel"])
    est = SparkXGBRanker(n_estimators=20, max_depth=3)
    with pytest.raises(ValueError, match="qid_col"):
        est.fit(df, "rel")
    est.fit(df, "rel", qid_col="qid")
    scored = est.predict(df)
    # Within each query group the higher-relevance doc must outscore the
    # lower one (the reference's monotone-AUC check, test_end_to_end.py:374-424).
    agg = (
        scored.groupBy("qid")
        .agg(
            F.max(F.when(F.col("rel") == 2, F.col("prediction"))).alias("hi"),
            F.max(F.when(F.col("rel") == 0, F.col("prediction"))).alias("lo"),
        )
        .filter(F.col("hi") <= F.col("lo"))
        .count()
    )
    assert agg == 0


def test_eval_sets_recorded(spark):
    df = learnable_frame(spark)
    spec = MatrixSpec(label_cols=("label",), feature_cols=("x1", "x2"))
    result = train(
        {"objective": "binary:logistic"},
        df,
        spec,
        num_boost_round=5,
        evals=[(df, "train")],
    )
    assert "train" in result.evals_result
    (metric_vals,) = result.evals_result["train"].values()
    assert 0.0 <= metric_vals[0] <= 1.0


def test_multiclass_eval_sets_use_multiclass_evaluator(spark):
    """evals with a multi-class objective must not crash on the binary
    AUC evaluator (rawPrediction length 3 != 2) — the multiclass branch
    records mlogloss instead."""
    df = fourclass_frame(spark)
    spec = MatrixSpec(
        label_cols=("label",), feature_cols=("f0", "f1", "f2", "f3")
    )
    result = train(
        {"objective": "multi:softprob", "num_class": 4},
        df,
        spec,
        num_boost_round=5,
        evals=[(df, "train")],
    )
    assert "mlogloss" in result.evals_result["train"]
    assert result.evals_result["train"]["mlogloss"][0] >= 0.0


def test_classifier_refit_resets_objective(spark):
    """sklearn refit semantics: a multi-class fit must not leak
    multi:softprob into a later binary refit of the same instance."""
    est = SparkXGBClassifier(n_estimators=4, max_depth=3)
    est.fit(fourclass_frame(spark), "label",
            feature_cols=["f0", "f1", "f2", "f3"])
    assert est._objective == "multi:softprob"
    est.fit(learnable_frame(spark), "label", feature_cols=["x1", "x2"])
    assert est._objective == "binary:logistic"
    assert est.n_classes_ == 2


def test_predict_before_fit_raises_cleanly(spark):
    df = learnable_frame(spark)
    with pytest.raises(RuntimeError, match="not fitted"):
        SparkXGBRegressor().predict(df)


def test_checkpoint_save_and_reload(spark, tmp_path):
    df = learnable_frame(spark)
    spec = MatrixSpec(label_cols=("label",), feature_cols=("x1", "x2"))
    ckpt = os.path.join(str(tmp_path), "gbt_ckpt")
    result = train(
        {"objective": "binary:logistic", "eta": 0.5},
        df,
        spec,
        num_boost_round=10,
        gbt_params=GBTParams(checkpoint_path=ckpt, seed=7),
    )
    assert os.path.isdir(ckpt)
    from pyspark.ml.classification import GBTClassificationModel

    reloaded = GBTClassificationModel.load(ckpt)
    scored = predict(reloaded, df, spec)
    orig = predict(result, df, spec)
    assert (
        scored.select("prediction").collect()
        == orig.select("prediction").collect()
    )


def test_weight_col_accepted(spark):
    df = learnable_frame(spark).withColumn("w", F.lit(1.0))
    spec = MatrixSpec(
        label_cols=("label",), feature_cols=("x1", "x2"), weight_col="w"
    )
    result = train({"objective": "binary:logistic"}, df, spec, num_boost_round=3)
    assert predict(result, df, spec).count() == df.count()


def test_distributed_callbacks_fire_in_order(spark):
    """Lifecycle hook ordering — the reference's distributed-callback test
    (test_end_to_end.py:279-305): init -> load -> train, and put_queue
    items reach the driver with the result."""
    from xgboost_ray_spark.ml.callback import DistributedCallback

    events: list[str] = []

    class Probe(DistributedCallback):
        def on_init(self, ctx, **kw):
            events.append("init")

        def before_data_loading(self, ctx, **kw):
            events.append("before_load")

        def after_data_loading(self, ctx, **kw):
            events.append("after_load")

        def before_train(self, ctx, **kw):
            events.append("before_train")

        def after_train(self, ctx, result=None, **kw):
            events.append("after_train")
            ctx.put_queue(("rank", ctx.rank))

    df = learnable_frame(spark)
    spec = MatrixSpec(label_cols=("label",), feature_cols=("x1", "x2"))
    result = train(
        {"objective": "binary:logistic"},
        df,
        spec,
        num_boost_round=2,
        callbacks=[Probe()],
    )
    assert events == [
        "init", "before_load", "after_load", "before_train", "after_train"
    ]
    assert result.queued == [("rank", 0)]


def test_get_worker_rank_outside_barrier():
    from xgboost_ray_spark.ml.callback import get_worker_rank

    assert get_worker_rank() == 0


def test_grid_search_selects_learnable_config(spark):
    """Hyperparameter search (reference tune.py:60-126 analogue): the grid
    point deep enough to learn the mapping must win."""
    from xgboost_ray_spark.ml.tuning import grid_search, param_grid

    df = learnable_frame(spark, repeat=128)
    # Single boosting round so depth decides: one depth-1 stump cannot
    # express x1 AND x2 (its ambiguous leaf ties class-0/1 rows), one
    # depth-4 tree learns it exactly.
    grid = param_grid(max_depth=[1, 4], n_estimators=[1])
    res = grid_search(
        SparkXGBClassifier,
        df,
        "label",
        grid,
        feature_cols=["x1", "x2"],
        metric="auc",
    )
    assert len(res.trials) == 2
    assert res.best_params["max_depth"] == 4
    assert res.best_metric >= 0.99
    # the winning model predicts the mapping exactly
    wrong = (
        res.best_model.predict(df)
        .filter(F.col("prediction") != F.col("label"))
        .count()
    )
    assert wrong == 0


def test_param_grid_cross_product():
    from xgboost_ray_spark.ml.tuning import param_grid

    g = param_grid(a=[1, 2], b=["x", "y", "z"])
    assert len(g) == 6
    assert {"a": 2, "b": "y"} in g


# ---------------------------------------------------------------------------
# MatrixSpec role handling (reference tests/test_matrix.py)
# ---------------------------------------------------------------------------
def test_feature_order_preserved(spark):
    """Column order invariant — reference test_matrix.py:64-72."""
    df = spark.createDataFrame([(1.0, 2.0, 3.0, 0)], ["b", "a", "c", "label"])
    spec = MatrixSpec(label_cols=("label",))
    assert spec.features_of(df) == ["b", "a", "c"]


def test_ignore_drops_columns(spark):
    df = spark.createDataFrame([(1.0, 2.0, 0)], ["keep", "junk", "label"])
    spec = MatrixSpec(label_cols=("label",), ignore=("junk",))
    out = spec.prepare(df)
    assert "junk" not in out.columns
    assert spec.features_of(df) == ["keep"]


def test_role_cols_union(spark):
    spec = MatrixSpec(
        label_cols=("y",), weight_col="w", qid_col="q", ignore=("i",)
    )
    assert spec.role_cols() == {"y", "w", "q", "i"}


# ---------------------------------------------------------------------------
# Fault tolerance (reference tests/test_fault_tolerance.py: kill an actor
# mid-run, training must still complete with correct results)
# ---------------------------------------------------------------------------
def test_task_failure_recovers_via_retry(spark):
    """A task that dies on its first attempt must be re-run by Spark and the
    job complete with full, correct results — the engine's analogue of the
    reference's die-and-respawn actor test (test_fault_tolerance.py:90-123).
    """
    import pandas as pd
    from pyspark import TaskContext

    df = spark.range(1000).repartition(4)

    def flaky(batches):
        ctx = TaskContext.get()
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            raise RuntimeError("injected task failure (attempt 0)")
        for pdf in batches:
            yield pdf

    out = df.mapInPandas(flaky, "id long")
    assert sorted(r.id for r in out.collect()) == list(range(1000))


def test_training_survives_task_failure(spark):
    """End-to-end: distributed training completes and still learns the
    mapping when a first-attempt task failure is injected into the input."""
    import pandas as pd
    from pyspark import TaskContext

    base = learnable_frame(spark).repartition(4)

    def flaky(batches):
        ctx = TaskContext.get()
        if ctx.partitionId() == 1 and ctx.attemptNumber() == 0:
            raise RuntimeError("injected failure before training")
        for pdf in batches:
            yield pdf

    df = base.mapInPandas(flaky, "x1 double, x2 double, label long")
    spec = MatrixSpec(label_cols=("label",), feature_cols=("x1", "x2"))
    result = train(
        {"objective": "binary:logistic", "eta": 0.5},
        df,
        spec,
        num_boost_round=10,
        gbt_params=GBTParams(num_workers=2, seed=7),
    )
    scored = predict(result, df, spec)
    assert scored.filter(F.col("prediction") != F.col("label")).count() == 0


# ---------------------------------------------------------------------------
# Sharding round-trips (reference test_matrix.py:74-113, combine :1114-1157)
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("mode", [ShardingMode.INTERLEAVED, ShardingMode.BATCH])
def test_shard_preserves_rows(spark, mode):
    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    sharded = shard(df, 4, mode)
    assert sharded.rdd.getNumPartitions() == 4
    assert sorted(r.id for r in sharded.collect()) == list(range(1000))


def test_combine_data_interleaved_roundtrip():
    orig = np.arange(10)
    shards = [orig[r::3] for r in range(3)]
    out = combine_data(shards, ShardingMode.INTERLEAVED)
    np.testing.assert_array_equal(out, orig)


def _collect_interleaved_shards(sharded, n, value_col):
    """Extract shard k = rows with rank k ordered by original position —
    the contract shard() documents for combine_data inversion."""
    from xgboost_ray_spark.matrix import ROW_ID_COL, SHARD_COL

    return [
        np.array(
            [
                r[value_col]
                for r in sharded.filter(F.col(SHARD_COL) == k)
                .orderBy(ROW_ID_COL)
                .collect()
            ]
        )
        for k in range(n)
    ]


def test_shard_interleaved_exact_roundtrip(spark):
    """shard(INTERLEAVED) -> combine_data is an EXACT inverse, matching the
    reference pair (matrix.py:1088-1110 ↔ 1114-1157): shard k holds original
    rows k, k+n, k+2n, ... and re-interleaving restores original order."""
    df = spark.range(101).withColumn("v", F.col("id") * 7)  # odd row count
    sharded = shard(df, 4, ShardingMode.INTERLEAVED, order_col="id")
    shards = _collect_interleaved_shards(sharded, 4, "v")
    orig = np.arange(101) * 7
    for k in range(4):  # reference shard semantics: strict i mod n
        np.testing.assert_array_equal(shards[k], orig[k::4])
    np.testing.assert_array_equal(
        combine_data(shards, ShardingMode.INTERLEAVED), orig
    )


def test_shard_interleaved_auto_index_roundtrip(spark):
    """Without order_col, shard() builds a contiguous distributed index; the
    round-trip restores the induced order exactly and balances shards."""
    df = spark.range(90).repartition(7).withColumn("v", F.col("id") + 1000)
    sharded = shard(df, 3, ShardingMode.INTERLEAVED)
    shards = _collect_interleaved_shards(sharded, 3, "v")
    assert [len(s) for s in shards] == [30, 30, 30]
    combined = combine_data(shards, ShardingMode.INTERLEAVED)
    # induced order = rows sorted by the generated contiguous index
    from xgboost_ray_spark.matrix import ROW_ID_COL

    expected = np.array(
        [r.v for r in sharded.orderBy(ROW_ID_COL).collect()]
    )
    np.testing.assert_array_equal(combined, expected)
    assert sorted(combined.tolist()) == sorted(r + 1000 for r in range(90))


def test_combine_data_batch_roundtrip():
    orig = np.arange(12, dtype=float)
    shards = np.array_split(orig, 3)
    np.testing.assert_array_equal(
        combine_data(list(shards), ShardingMode.BATCH), orig
    )


def test_combine_data_2d_softprob():
    """multi:softprob 2-D case (matrix.py:1141-1157)."""
    shards = [np.full((2, 3), r, dtype=float) for r in range(2)]
    out = combine_data(shards, ShardingMode.INTERLEAVED)
    assert out.shape == (4, 3)
    np.testing.assert_array_equal(out[0], 0)
    np.testing.assert_array_equal(out[1], 1)


def test_matrix_type_validated():
    """R17 quantile hint: accepted values only; 'quantile' flows to the
    barrier path's QuantileDMatrix construction (import-gated there)."""
    import pytest

    from xgboost_ray_spark.matrix import MatrixSpec

    MatrixSpec(label_cols=("y",), matrix_type="quantile")  # accepted
    with pytest.raises(ValueError, match="matrix_type"):
        MatrixSpec(label_cols=("y",), matrix_type="gpu_hist")


def test_quantile_spec_trains_on_mllib_backend(spark):
    """The MLlib fallback bins histograms internally, so a quantile-typed
    spec must train identically rather than erroring."""
    from xgboost_ray_spark.matrix import MatrixSpec
    from xgboost_ray_spark.ml.train import train

    df = spark.createDataFrame(
        [(float(i % 4), float((i * 7) % 5), float(i % 2)) for i in range(64)],
        "f0 double, f1 double, label double",
    )
    spec = MatrixSpec(label_cols=("label",), matrix_type="quantile")
    result = train(
        {"objective": "binary:logistic", "max_depth": 2},
        df, spec, num_boost_round=2,
    )
    assert result.model is not None


def test_survival_and_margin_roles_accepted(spark):
    """base_margin / survival-bound roles must flow through spec.prepare
    and training without error (the barrier path feeds them to DMatrix;
    the MLlib fallback ignores what it cannot express)."""
    from xgboost_ray_spark.matrix import MatrixSpec
    from xgboost_ray_spark.ml.train import train

    df = spark.createDataFrame(
        [
            (float(i % 4), float(i % 3), 0.1 * i, float(i), float(i + 2),
             float(i % 2))
            for i in range(48)
        ],
        "f0 double, f1 double, margin double, lo double, hi double, label double",
    )
    spec = MatrixSpec(
        label_cols=("label",),
        feature_cols=("f0", "f1"),
        base_margin_col="margin",
        label_lower_bound_col="lo",
        label_upper_bound_col="hi",
    )
    result = train(
        {"objective": "binary:logistic", "max_depth": 2},
        df, spec, num_boost_round=2,
    )
    assert result.model is not None
    # role columns are never mistaken for features
    assert spec.features_of(df) == ["f0", "f1"]


@pytest.mark.parametrize("max_restarts", [0, 1])
def test_mllib_fit_failure_restarts_then_propagates(spark, monkeypatch, max_restarts):
    """The MLlib backend shares the xgb backend's restart loop: a fit that
    fails once succeeds on the retry when max_restarts allows one, and
    with no restarts left the injected error propagates as it is."""
    from pyspark.ml.classification import GBTClassifier

    real_fit = GBTClassifier._fit
    calls = []

    def flaky_fit(self, dataset):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("injected fit failure")
        return real_fit(self, dataset)

    monkeypatch.setattr(GBTClassifier, "_fit", flaky_fit)
    df = learnable_frame(spark, repeat=4)
    spec = MatrixSpec(label_cols=("label",), feature_cols=("x1", "x2"))

    def run():
        return train(
            {"objective": "binary:logistic", "max_depth": 2},
            df,
            spec,
            num_boost_round=2,
            gbt_params=GBTParams(num_workers=2, max_restarts=max_restarts),
        )

    if max_restarts:
        assert run().model is not None
        assert len(calls) == 2
    else:
        with pytest.raises(RuntimeError, match="^injected fit failure$"):
            run()
        assert len(calls) == 1


def test_mllib_ranker_fit_input_is_not_clustered_by_qid(spark, monkeypatch):
    """The MLlib ranker is a pointwise GBTRegressor that never reads qid,
    so the frame train() hands it carries no qid hash exchange: query
    groups are clustered only where DMatrix(qid=...) reads them
    (prepare_shards)."""
    from pyspark.ml.regression import GBTRegressor

    from xgboost_ray_spark.plans.explain import formatted_plan

    real_fit = GBTRegressor._fit
    plans = []

    def capturing_fit(self, dataset):
        plans.append(formatted_plan(dataset))
        return real_fit(self, dataset)

    monkeypatch.setattr(GBTRegressor, "_fit", capturing_fit)
    rows = [
        (float(q + i), float(i % 2), q, i % 2) for q in range(8) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "f0 double, f1 double, qid int, rel int")
    spec = MatrixSpec(
        label_cols=("rel",), feature_cols=("f0", "f1"), qid_col="qid"
    )
    train(
        {"objective": "rank:pairwise", "max_depth": 2},
        df, spec, num_boost_round=2,
    )
    assert len(plans) == 1
    assert "hashpartitioning(qid" not in plans[0], plans[0]


def test_predict_dispatches_transformless_model_to_barrier(spark, monkeypatch):
    """The xgb backend's TrainResult.model is an xgboost Booster, which
    has no .transform — predict() must route it through predict_barrier
    instead of raising AttributeError. Dispatch is duck-typed, so a fake
    transform-less model exercises it xgboost-free."""
    from xgboost_ray_spark.ml import barrier as barrier_mod

    calls = {}

    def fake_predict_barrier(booster_bytes, data, spec, output_col="prediction"):
        calls["bytes"] = booster_bytes
        calls["output_col"] = output_col
        return data

    monkeypatch.setattr(barrier_mod, "predict_barrier", fake_predict_barrier)

    fake_booster = {"kind": "booster"}  # no .transform, picklable
    df = spark.createDataFrame([(1.0, 0)], "f1 double, label int")
    spec = MatrixSpec(label_cols=("label",), feature_cols=("f1",))
    out = predict(fake_booster, df, spec, output_col="score")
    assert out is df
    assert calls["output_col"] == "score"


def test_classifier_class_count_ignores_null_labels(spark):
    """NULL is not a label class: {0,1,NULL} must stay binary:logistic,
    not flip to multi:softprob with a phantom third class."""
    df = spark.createDataFrame(
        [(float(i % 7), float(i), i % 2) for i in range(40)]
        + [(1.0, 1.0, None)],
        "f1 double, f2 double, label int",
    )
    est = SparkXGBClassifier(n_estimators=2, max_depth=2)
    try:
        est.fit(df.filter(F.col("label").isNotNull()).unionByName(
            df.filter(F.col("label").isNull())
        ), "label", feature_cols=["f1", "f2"])
    except Exception:
        pass  # MLlib may reject the NULL-label row at fit time — fine;
        # the objective detection under test happens before training.
    assert est.n_classes_ == 2
    assert est._objective == "binary:logistic"


def test_shard_interleaved_one_rank_per_partition(spark):
    """Range placement on the rank: each task holds at most one shard
    (hash placement could co-locate two full shards and leave a task
    empty — e.g. both ranks of n=2 hash to partition 0), and ranks are
    in partition-index order. Extraction stays filter-by-SHARD_COL."""
    from xgboost_ray_spark.matrix import SHARD_COL

    for n in (2, 3, 4):
        sharded = shard(spark.range(120), n, ShardingMode.INTERLEAVED,
                        order_col="id")
        parts = sharded.select(SHARD_COL).rdd.glom().collect()
        per_part = [sorted({r[0] for r in p}) for p in parts]
        assert all(len(s) <= 1 for s in per_part), (n, per_part)
        flat = [s[0] for s in per_part if s]
        assert flat == sorted(flat) == list(range(n)), (n, per_part)


def test_predict_barrier_plan_does_not_mutate_input_schema(spark):
    """DataFrame.schema is a cached StructType and StructType.add mutates
    in place — the barrier scorers must extend a COPY, or the second
    predict on the same frame sees a phantom duplicate field."""
    from xgboost_ray_spark.ml.barrier import (
        predict_barrier,
        predict_proba_barrier,
    )

    df = spark.createDataFrame([(1.0, 0)], "f double, y int")
    spec = MatrixSpec(label_cols=("y",))
    n_fields = len(df.schema.fields)
    out1 = predict_barrier(b"not-a-booster", df, spec)
    out2 = predict_barrier(b"not-a-booster", df, spec)
    proba = predict_proba_barrier(b"not-a-booster", df, spec)
    assert len(df.schema.fields) == n_fields, "input schema was mutated"
    assert out1.columns == out2.columns == ["f", "y", "prediction"]
    assert proba.columns == ["f", "y", "probability_arr"]


def test_mllib_predict_keeps_passthrough_columns(spark):
    """Scoring must keep columns outside the feature/role set (the xgb
    backend does) — dropping them makes predictions unjoinable to the
    source rows."""
    df = spark.createDataFrame(
        [(i, float(i % 7), float((i * 3) % 5), float(i % 2))
         for i in range(200)],
        "row_id long, f1 double, f2 double, label double",
    )
    spec = MatrixSpec(label_cols=("label",), feature_cols=("f1", "f2"))
    result = train(
        {"objective": "binary:logistic", "max_depth": 3},
        df, spec, num_boost_round=3,
        gbt_params=GBTParams(num_workers=2, seed=7),
    )
    scored = predict(result, df, spec)
    assert "row_id" in scored.columns, scored.columns
    assert scored.count() == 200


def test_grid_search_rejects_empty_grid(spark):
    from xgboost_ray_spark.ml.tuning import grid_search

    df = spark.createDataFrame([(1.0, 0.0)], "f double, y double")
    with pytest.raises(ValueError, match="empty parameter grid"):
        grid_search(lambda **kw: None, df, "y", grid=[], metric="rmse")
