"""The benchmark's workloads: lists of operations over the engine's public API.

An operation runs inside one timed *sample* and splits it into phases:
``build`` (driver-side construction plus every job a builder runs eagerly)
and ``exec`` (the timed action on the returned frame). ``run`` receives a
``Sample`` (see run.py) and uses ``sample.phase(name)`` around each part;
it returns the frame to check, or None.

Operations of one pass run in an order permuted by the run's seed. A group
of operations that depend on each other (gbt train -> predict) is permuted
as one unit.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Any, Callable


def auc_floor() -> float:
    """Quality floor for the held-out AUC of the tuned classifier (see
    ``tune_frame``)."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "layers.json")) as fh:
        return json.load(fh)["gbt_train_auc_floor"]


@dataclass
class Op:
    name: str
    run: Callable[[Any, Any], Any]
    oracle: str | None = None
    check: Callable[[Any, Any, Any], str | None] | None = None


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def registry_op(specs: dict, name: str) -> Op:
    spec = specs[name]

    def run(ctx, sample):
        with sample.phase("build"):
            df = spec.build(ctx.spark, ctx.data_dir)
        with sample.phase("exec"):
            noop_write(df)
        return df

    return Op(name, run, oracle=spec.oracle)


ETL_STAR = [
    "s09_groupby_agg", "s05_inner_join", "s08_broadcast_join",
    "s13_window_rank", "s16_topk_per_group", "s11c_grouping_sets",
    "s24_tumbling_window", "s24b_sessionization", "s23_json",
    "s08c_range_join",
]
LLM_DEDUP = [
    "s26_dedup_exact", "s26b_minhash_lsh", "s26c_simhash",
    "s26g_dup_clusters", "s26l_prefix_filter_join", "s27_cosine_topk",
    "s27b_lsh_topk", "s27j_kmeans", "s28e_tfidf_top_terms",
    "s28c_quality_score", "s29e_frame_sample", "s24g_pagerank",
]
STREAM_SESSIONS = [
    "s25d_stateful_sessions", "s25i_stream_cdc_upsert", "s25h_file_sink_etl",
]


# ---------------------------------------------------------------------------
# gbt_train: the paper's train()/predict() path plus the estimator layer
# ---------------------------------------------------------------------------


def _gbt_ops() -> list[list[Op]]:
    from pyspark.sql import functions as F

    from xgboost_ray_spark.catalog import load_table
    from xgboost_ray_spark.matrix import MatrixSpec
    from xgboost_ray_spark.ml.estimators import SparkXGBClassifier, SparkXGBRanker
    from xgboost_ray_spark.ml.params import GBTParams
    from xgboost_ray_spark.ml.queries import LINEITEM_FEATURES, lineitem_training_frame
    from xgboost_ray_spark.ml.train import predict, train
    from xgboost_ray_spark.ml.tuning import grid_search, param_grid

    spec = MatrixSpec(label_cols=("label",), feature_cols=tuple(LINEITEM_FEATURES))
    floor = auc_floor()

    def run_train(ctx, sample):
        with sample.phase("build"):
            frame = lineitem_training_frame(ctx.spark, ctx.data_dir)
            result = train(
                {"objective": "binary:logistic", "max_depth": 4, "eta": 0.3},
                frame,
                spec,
                num_boost_round=5,
                gbt_params=GBTParams(num_workers=2, seed=42),
            )
        ctx.state["frame"], ctx.state["result"] = frame, result
        sample.note("ml.fit_s", result.train_time_s)
        return None

    def run_predict(ctx, sample):
        with sample.phase("build"):
            scored = predict(ctx.state["result"], ctx.state["frame"], spec)
        with sample.phase("exec"):
            noop_write(scored)
        return scored

    def check_predict(ctx, sample, scored):
        rows = (
            scored.groupBy(
                F.col("label").cast("int").alias("label"),
                (F.col("prediction") >= 0.5).cast("int").alias("pred"),
            )
            .count()
            .collect()
        )
        counts = sorted((r["label"], r["pred"], r["count"]) for r in rows)
        sample.note("confusion", counts)
        # Every row is scored once and keeps its label: the confusion
        # matrix's label totals equal DuckDB's.
        want = dict(ctx.oracle.rows(
            "SELECT CAST(l_returnflag = 'R' AS INT), COUNT(*) FROM lineitem GROUP BY 1"
        ))
        got: dict[int, int] = {}
        for label, _, n in counts:
            got[label] = got.get(label, 0) + n
        if got != want:
            return f"label totals {got} != oracle {want}"
        sample.note("rows", sum(want.values()))
        first = ctx.state.setdefault("confusion", counts)
        return None if counts == first else f"confusion {counts} != pass-1 {first}"

    def ranker_frame(ctx):
        orders = load_table(ctx.spark, ctx.data_dir, "orders")
        return orders.select(
            F.col("o_custkey").alias("qid"),
            F.col("o_totalprice").alias("f_price"),
            F.dayofmonth("o_orderdate").cast("double").alias("f_day"),
            (F.col("o_totalprice") > 200000).cast("int").alias("rel"),
        )

    def run_ranker(ctx, sample):
        with sample.phase("build"):
            df = ranker_frame(ctx)
            est = SparkXGBRanker(n_estimators=10, max_depth=3)
            est.fit(df, "rel", qid_col="qid")
            scored = est.predict(df)
        with sample.phase("exec"):
            noop_write(scored)
        return scored

    def check_ranker(ctx, sample, scored):
        avg = dict(scored.groupBy("rel").agg(F.avg("prediction")).collect())
        if not avg.get(1, 0.0) > avg.get(0, 0.0):
            return f"ranker scores not monotone in relevance: {avg}"
        return None

    grid = param_grid(max_depth=[2, 4], n_estimators=[3])

    def tune_frame(ctx):
        # The fixture's return flag is independent of the numeric columns,
        # so a tuned model cannot beat AUC 0.5 on it. This label is a fixed
        # function of two features instead: a working fit/score path
        # reaches an AUC near 1, a broken one (misaligned features or
        # scores) falls toward 0.5.
        li = load_table(ctx.spark, ctx.data_dir, "lineitem")
        return li.select(
            *LINEITEM_FEATURES,
            ((F.col("l_quantity") > 25) & (F.col("l_discount") > 0.04))
            .cast("int").alias("label"),
        )

    def run_tune(ctx, sample):
        trial_walls: list[float] = []

        def factory(**params):
            trial_walls.append(time.perf_counter())
            return SparkXGBClassifier(**params)

        with sample.phase("build"):
            frame = tune_frame(ctx)
            res = grid_search(
                factory, frame, "label", grid,
                feature_cols=list(LINEITEM_FEATURES), metric="auc", seed=42,
            )
            trial_walls.append(time.perf_counter())
        sample.note(
            "ml.trial_s",
            [b - a for a, b in zip(trial_walls, trial_walls[1:])],
        )
        ctx.state["auc"] = res.best_metric
        sample.note("auc", res.best_metric)
        return None

    def check_tune(ctx, sample, _):
        auc = ctx.state["auc"]
        if auc < floor:
            return f"held-out AUC {auc:.4f} < {floor}"
        first = ctx.state.setdefault("first_auc", auc)
        return None if auc == first else f"held-out AUC {auc!r} != pass-1 {first!r}"

    return [
        [Op("gbt_train", run_train), Op("gbt_predict", run_predict, check=check_predict)],
        [Op("ltr_ranker", run_ranker, check=check_ranker)],
        [Op("grid_search", run_tune, check=check_tune)],
    ]


def units(workload: str) -> list[list[Op]]:
    """The workload's operations, grouped into units that are permuted."""
    if workload == "gbt_train":
        return _gbt_ops()
    from xgboost_ray_spark.registry import all_queries

    names = {
        "etl_star": ETL_STAR,
        "llm_dedup": LLM_DEDUP,
        "stream_sessions": STREAM_SESSIONS,
    }[workload]
    specs = all_queries()
    return [[registry_op(specs, n)] for n in names]
