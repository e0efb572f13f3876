"""True distributed XGBoost under Spark barrier execution.

Port of the reference's training topology (xgboost_ray/main.py:1061-1337)
onto Spark primitives, import-gated on the ``xgboost`` package (absent in
this container — structure is real, exercised only where xgboost exists):

  reference                                   here
  ---------                                   ----
  RayXGBoostActor per shard (main.py:862)     one barrier task per partition
  Rabit tracker subprocess (main.py:256-290)  xgboost.tracker.RabitTracker on
                                              the driver, env shipped to tasks
  rank from actor index (main.py:1233)        BarrierTaskContext.partitionId()
  tracker env via actor args                  BarrierTaskContext.allGather()
  OMP_NUM_THREADS pinning (main.py:355-362)   set from cpus_per_worker inside
                                              the task
  checkpoint queue (main.py:612-626)          rank-0 writes model bytes to
                                              checkpoint_path every k rounds
  failure retry loop (main.py:1606-1713)      run_with_restarts driver loop
                                              (Spark ABORTS a failed barrier
                                              ResultStage — it never retries
                                              one — so recovery is driver-
                                              side, like the reference);
                                              each attempt reloads the
                                              checkpoint and decrements
                                              rounds (boost_rounds_left
                                              arithmetic, main.py:1604-1612)
"""

from __future__ import annotations

import os
import pickle
import socket
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xgboost_ray_spark.matrix import MatrixSpec
from xgboost_ray_spark.ml.params import GBTParams


def load_checkpoint(
    ckpt_path: str | None, num_boost_round: int
) -> tuple[bytes | None, int]:
    """(prev_model_bytes, rounds_left) — the reference's elastic resume
    arithmetic (main.py:1604-1612): a retried training run picks up the
    last checkpoint and boosts only the remaining rounds, so total boosted
    rounds across attempts equals the request. Importable without xgboost
    (plain pickle/os) so the retry semantics are testable anywhere."""
    if ckpt_path and os.path.exists(ckpt_path):
        with open(ckpt_path, "rb") as fh:
            prev_model_bytes, done_rounds = pickle.load(fh)
        return prev_model_bytes, max(num_boost_round - done_rounds, 0)
    return None, num_boost_round


def save_checkpoint(
    ckpt_path: str, model_bytes: bytes, done_rounds: int
) -> None:
    """Atomic checkpoint write (tmp + rename): a task killed mid-write must
    not leave a torn file for the retry to trip over — the reference's
    checkpoint actor queue gives the same guarantee (main.py:612-626)."""
    tmp = f"{ckpt_path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as fh:
        pickle.dump((model_bytes, done_rounds), fh)
    os.replace(tmp, ckpt_path)


def run_with_restarts(attempt_fn, max_restarts: int, stop_flag=None):
    """Driver-side elastic retry loop (reference train loop,
    main.py:1606-1713).

    Spark can NOT retry a failed barrier ResultStage (all-or-nothing: the
    scheduler aborts the job if any barrier result task fails), so worker
    death recovery lives HERE, exactly where the reference puts its
    ``max_actor_restarts`` loop: rerun the whole training job; each attempt
    reloads the latest checkpoint, so only the not-yet-checkpointed rounds
    repeat. ``attempt_fn(attempt_index)`` performs one full training job.

    ``stop_flag`` (an ``ml.stopping.StopFlag``) is honored between
    attempts: a cooperative stop requested while an attempt was failing
    ends the loop instead of launching another attempt — the reference's
    Event actor has the same effect on its retry loop (main.py:1606-1713
    rechecks the stop event each pass).
    """
    attempt = 0
    while True:
        if stop_flag is not None and stop_flag.should_stop():
            raise TrainingStopped(
                f"cooperative stop requested (flag: {stop_flag.path}) "
                f"before attempt {attempt}"
            )
        try:
            return attempt_fn(attempt)
        except Exception:
            attempt += 1
            if attempt > max_restarts:
                raise


class TrainingStopped(RuntimeError):
    """Raised when a cooperative StopFlag ends the restart loop before a
    new attempt starts (mid-attempt stops return normally with the rounds
    completed so far — see ml/stopping.py)."""


def prepare_shards(
    dtrain: DataFrame,
    spec: MatrixSpec,
    num_workers: int,
    evals: list[tuple[DataFrame, str]] | None = None,
) -> tuple[DataFrame, list[str], list[str], str, list[str]]:
    """Shard train + eval sets across ``num_workers`` barrier tasks.

    Returns ``(prepared, cols, eval_names, label_col, feats)``. Train and
    every eval set ride the same barrier stage: tag each frame, union, and
    shard all of them across the same tasks — the reference hands each
    actor its train shard plus an eval shard per set (main.py:704-739).
    The tag column is the only overhead. xgboost-free on purpose, so the
    sharding semantics (role columns ride along; ranking query groups
    stay whole and sorted) are unit-testable in environments without
    xgboost (tests/test_barrier.py pattern).
    """
    train = spec.prepare(dtrain)
    feats = spec.features_of(train)
    label_col = spec.label_cols[0]
    # Every role column rides the shard, in assemble_features' order.
    cols = spec.training_cols(train)
    # The union below gets the ONE qid repartition+sort across all sets.
    tagged = train.select(*cols).withColumn(
        "__set__", F.lit("train")
    )
    eval_names: list[str] = []
    for eval_df, eval_name in evals or []:
        if eval_name == "train":
            raise ValueError("eval set name 'train' is reserved")
        eval_names.append(eval_name)
        tagged = tagged.unionByName(
            spec.prepare(eval_df).select(*cols).withColumn(
                "__set__", F.lit(eval_name)
            )
        )
    if spec.qid_col:
        # Ranking shards must keep each query group WHOLE on one worker
        # and sorted (reference ensure_sorted_by_qid, matrix.py:70-102):
        # a plain round-robin repartition scatters a group's rows across
        # workers, so pairwise losses would compare documents of
        # different queries. Hash-partition on qid, then sort within
        # the shard — the order DMatrix(qid=...) requires.
        # NULL qids would hash into one worker whose DMatrix(qid=...)
        # then fails deep inside the barrier stage with an opaque xgboost
        # error (and the restart loop would uselessly retry it). Fail at
        # the API boundary instead, naming the column. Cost: the failure
        # path stops at the first offending row (limit-1 under isEmpty);
        # the CLEAN path proves emptiness against the scan statistics —
        # IsNull(qid) pushes through the prepare/union projections to
        # the source scan (verified: PushedFilters=[IsNull(qid)]), so
        # columnar sources skip every row group whose null_count is 0
        # and healthy runs pay a metadata pass, not a second data read;
        # worst case (non-statistics sources) is one single-column scan
        # before a multi-minute barrier train.
        if not tagged.where(F.col(spec.qid_col).isNull()).isEmpty():
            raise ValueError(
                f"qid column {spec.qid_col!r} contains NULLs; every row "
                "in dtrain and each eval set needs a query-group id for "
                "ranking shards (DMatrix(qid=...) rejects nulls). Filter "
                "or impute them before train()."
            )
        prepared = tagged.repartition(
            num_workers, F.col(spec.qid_col)
        ).sortWithinPartitions(spec.qid_col)
    else:
        prepared = tagged.repartition(num_workers)
    return prepared, cols, eval_names, label_col, feats


def train_barrier(
    params: dict,
    dtrain: DataFrame,
    spec: MatrixSpec,
    num_boost_round: int,
    gbt: GBTParams,
    evals: list[tuple[DataFrame, str]] | None = None,
    callbacks: list | None = None,
):
    """Barrier-mode ``xgb.train`` with collective allreduce across tasks."""
    import xgboost as xgb
    from xgboost.tracker import RabitTracker

    from xgboost_ray_spark.ml.callback import WorkerContext, fire_hook
    from xgboost_ray_spark.ml.train import TrainResult

    num_workers = gbt.num_workers
    prepared, cols, eval_names, label_col, feats = prepare_shards(
        dtrain, spec, num_workers, evals
    )

    ckpt = gbt.checkpoint_path
    cpus = gbt.cpus_per_worker or 0
    weight_col = spec.weight_col
    ckpt_freq = max(gbt.checkpoint_frequency, 1)

    def run_attempt(attempt: int):
        # Resume from checkpoint: decrement remaining rounds like the
        # reference (main.py:1604-1612). Re-read on every attempt — the
        # failed attempt's rank-0 callback advanced it. checkpoint_path must
        # be shared storage for multi-node resume (reference ships bytes
        # through its checkpoint actor; Spark's analogue is a DFS path).
        prev_model_bytes, rounds_left = load_checkpoint(ckpt, num_boost_round)
        done_before = num_boost_round - rounds_left

        # Fresh tracker per attempt: the previous ring died with its workers.
        tracker = RabitTracker(
            host_ip=socket.gethostname(), n_workers=num_workers
        )
        tracker.start()
        tracker_args = tracker.worker_args()
        try:
            return _run_barrier_job(
                prev_model_bytes, rounds_left, done_before, tracker_args
            )
        finally:
            # Reap the tracker whether the attempt succeeded or died —
            # otherwise every retry leaks a tracker thread and its bound
            # socket, and a lingering non-daemon thread can keep the
            # driver process alive (reference pattern: start -> join,
            # main.py:256-290).
            try:
                tracker.wait_for(30)
            except Exception:
                pass  # a dead ring never reports in; the thread times out

    def _run_barrier_job(prev_model_bytes, rounds_left, done_before, tracker_args):
        def run_partition(batches):
            # ``batches`` is an iterator of Arrow-backed pandas frames — the
            # JVM->Python hop stays columnar (mapInPandas), matching
            # predict_barrier; no per-row asDict conversion anywhere.
            from pyspark import BarrierTaskContext
            import pandas as pd

            ctx = BarrierTaskContext.get()
            rank = ctx.partitionId()
            # Per-worker lifecycle hooks with true rank (callback.py:14-58).
            cb_ctx = WorkerContext(rank=rank, num_workers=num_workers)
            fire_hook(callbacks, "on_init", cb_ctx)
            if cpus:
                os.environ["OMP_NUM_THREADS"] = str(cpus)  # main.py:355-362
            fire_hook(callbacks, "before_data_loading", cb_ctx)
            parts = list(batches)
            if parts:
                pdf = pd.concat(parts, ignore_index=True)
            else:
                # Typed empty frame: a bare pd.DataFrame(columns=...) yields
                # object dtype, which xgb.DMatrix rejects — the worker whose
                # round-robin partition is empty (rows < num_workers) must
                # still join the collective with a valid 0-row DMatrix.
                pdf = pd.DataFrame(
                    {c: pd.Series(dtype="float64") for c in cols}
                    | {"__set__": pd.Series(dtype=object)}
                )
            fire_hook(callbacks, "after_data_loading", cb_ctx)
            ctx.barrier()
            fire_hook(callbacks, "before_train", cb_ctx)

            # Rank-0 periodic checkpoint (reference _save_checkpoint_callback,
            # main.py:612-626): a worker death mid-training resumes from the
            # last multiple of checkpoint_frequency, not from done_before.
            train_callbacks = []
            if ckpt and rank == 0:

                class _Checkpoint(xgb.callback.TrainingCallback):
                    def after_iteration(self, model, epoch, evals_log):
                        done = done_before + epoch + 1
                        if done % ckpt_freq == 0:
                            save_checkpoint(ckpt, pickle.dumps(model), done)
                        return False

                train_callbacks.append(_Checkpoint())

            if gbt.stop_flag_path:
                # Cooperative stop: every worker polls the shared flag
                # once per iteration; the allreduce keeps ranks in
                # lockstep so they all end on the same round.
                from xgboost_ray_spark.ml.stopping import (
                    StopFlag,
                    make_stop_callback,
                )

                train_callbacks.append(
                    make_stop_callback(StopFlag(gbt.stop_flag_path))
                )

            with xgb.collective.CommunicatorContext(**tracker_args):

                def make_dmatrix(frame, ref=None):
                    # Full role plumbing (reference _get_dmatrix,
                    # main.py:379-445): weight, base_margin, survival
                    # bounds, per-column feature weights.
                    kwargs = dict(
                        label=frame[label_col],
                        weight=frame[weight_col] if weight_col else None,
                        missing=spec.missing,
                    )
                    if spec.base_margin_col:
                        kwargs["base_margin"] = frame[spec.base_margin_col]
                    if spec.label_lower_bound_col:
                        kwargs["label_lower_bound"] = frame[
                            spec.label_lower_bound_col
                        ]
                    if spec.label_upper_bound_col:
                        kwargs["label_upper_bound"] = frame[
                            spec.label_upper_bound_col
                        ]
                    if spec.feature_weights is not None:
                        kwargs["feature_weights"] = list(spec.feature_weights)
                    if spec.qid_col:
                        # Query groups for ranking objectives; rows arrive
                        # qid-clustered and -sorted from the shard prep.
                        kwargs["qid"] = frame[spec.qid_col]
                    if spec.matrix_type == "quantile":
                        # Quantile path (reference matrix.py:977,
                        # main.py:379-445): bins are computed once at
                        # construction; eval sets MUST bin against the
                        # train matrix (ref=) or their histograms disagree.
                        if "max_bin" in params:
                            kwargs["max_bin"] = params["max_bin"]
                        return xgb.QuantileDMatrix(
                            frame[feats], ref=ref, **kwargs
                        )
                    return xgb.DMatrix(frame[feats], **kwargs)

                dmat = make_dmatrix(pdf[pdf["__set__"] == "train"])
                watchlist = [(dmat, "train")] + [
                    (make_dmatrix(pdf[pdf["__set__"] == n], ref=dmat), n)
                    for n in eval_names
                ]
                evals_result: dict = {}
                booster = xgb.train(
                    params,
                    dmat,
                    num_boost_round=rounds_left,
                    evals=watchlist,
                    evals_result=evals_result,
                    callbacks=train_callbacks or None,
                    xgb_model=pickle.loads(prev_model_bytes)
                    if prev_model_bytes
                    else None,
                )
            fire_hook(callbacks, "after_train", cb_ctx, result=None)
            # EVERY rank ships its put_queue'd items (the reference's
            # session.put_queue delivers from all actors, main.py:902-922)
            # — rank 0 alone carrying them would silently drop the other
            # workers' items. Only rank 0 carries the booster (identical
            # on all ranks after the final allreduce).
            if rank == 0 or cb_ctx.queued:
                yield pd.DataFrame(
                    {
                        "rank": [rank],
                        "result": [
                            pickle.dumps((booster, evals_result))
                            if rank == 0
                            else None
                        ],
                        "queued": [pickle.dumps(cb_ctx.queued)],
                    }
                )

        rows = prepared.mapInPandas(
            run_partition,
            schema="rank int, result binary, queued binary",
            barrier=True,
        ).collect()
        rows.sort(key=lambda r: r["rank"])  # deterministic queue order
        booster, evals_result = next(
            pickle.loads(r["result"]) for r in rows if r["result"] is not None
        )
        queued = [item for r in rows for item in pickle.loads(r["queued"])]
        return booster, evals_result, queued

    start = time.perf_counter()
    # Worker-death recovery is this driver-side loop — Spark aborts a failed
    # barrier ResultStage rather than retrying it (all-or-nothing), exactly
    # why the reference also retries from ITS driver (main.py:1606-1713).
    stop_flag = None
    if gbt.stop_flag_path:
        from xgboost_ray_spark.ml.stopping import StopFlag

        stop_flag = StopFlag(gbt.stop_flag_path)
    booster, evals_result, queued = run_with_restarts(
        run_attempt, gbt.max_restarts, stop_flag=stop_flag
    )
    elapsed = time.perf_counter() - start

    if ckpt:
        save_checkpoint(ckpt, pickle.dumps(booster), num_boost_round)

    return TrainResult(
        model=booster,
        evals_result=evals_result,
        train_time_s=elapsed,
        backend="xgb",
        queued=queued,
    )


def predict_barrier(booster_bytes: bytes, data: DataFrame, spec: MatrixSpec,
                    output_col: str = "prediction") -> DataFrame:
    """Broadcast-booster prediction via mapInPandas (main.py:1750-1806).

    The model ships once per executor through the broadcast (the reference's
    single ``ray.put`` of the model, main.py:1790); each Arrow batch scores
    in-process. Output stays a column — no combine_data reorder.
    """
    import pandas as pd

    spark = data.sparkSession
    bc = spark.sparkContext.broadcast(booster_bytes)
    feats = spec.features_of(spec.prepare(data))
    # COPY the schema before extending it: DataFrame.schema is a cached
    # property returning one shared StructType, and StructType.add
    # mutates it in place — extending it directly would corrupt the
    # input frame's schema for every later use (a second predict call on
    # the same DataFrame object would see a phantom duplicate field).
    schema = T.StructType(list(data.schema.fields)).add(output_col, "double")

    def score(batches):
        import xgboost as xgb

        booster = pickle.loads(bc.value)
        for pdf in batches:
            dmat = xgb.DMatrix(pdf[feats], missing=spec.missing)
            out = pdf.copy()
            preds = booster.predict(dmat)
            # multi:softprob yields (n, num_class); the single
            # ``prediction`` column takes the argmax class — the sklearn
            # predict semantic (reference sklearn.py:825-835). Per-class
            # scores come from predict_proba_barrier.
            if getattr(preds, "ndim", 1) == 2:
                preds = preds.argmax(axis=1).astype("float64")
            out[output_col] = preds
            yield out

    return data.mapInPandas(score, schema=schema)


def predict_proba_barrier(
    booster_bytes: bytes, data: DataFrame, spec: MatrixSpec
) -> DataFrame:
    """Per-class probabilities from a broadcast booster as an array column
    (``probability_arr``), mirroring train.predict_proba's MLlib output.
    Binary objectives emit [1-p, p]; multi:softprob emits one entry per
    class (reference sklearn.py:851-865)."""
    spark = data.sparkSession
    bc = spark.sparkContext.broadcast(booster_bytes)
    feats = spec.features_of(spec.prepare(data))
    # Copy-then-extend, same reason as predict_barrier: schema.add
    # mutates the frame's cached StructType in place. Explicit ArrayType:
    # add()'s string form parses only simple type names, not array<...>.
    schema = T.StructType(list(data.schema.fields)).add(
        "probability_arr", T.ArrayType(T.DoubleType())
    )

    def score(batches):
        import numpy as np
        import xgboost as xgb

        booster = pickle.loads(bc.value)
        for pdf in batches:
            dmat = xgb.DMatrix(pdf[feats], missing=spec.missing)
            preds = booster.predict(dmat)
            if getattr(preds, "ndim", 1) == 1:
                preds = np.stack([1.0 - preds, preds], axis=1)
            out = pdf.copy()
            out["probability_arr"] = list(preds.astype("float64"))
            yield out

    return data.mapInPandas(score, schema=schema)
