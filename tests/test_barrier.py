"""Barrier-execution topology tests — the R18 training plumbing exercised
WITHOUT xgboost (absent from this container): rank assignment, allGather
exchange, and barrier synchronization are exactly what ml/barrier.py builds
its Rabit ring on (reference topology: xgboost_ray/main.py:1061-1337)."""

from __future__ import annotations

import json


def test_barrier_ranks_and_allgather(spark):
    """Every barrier task must see a unique rank and the full roster via
    allGather — the tracker-env distribution step of train_barrier."""
    df = spark.range(100).repartition(4)

    def exchange(iterator):
        from pyspark import BarrierTaskContext

        ctx = BarrierTaskContext.get()
        rank = ctx.partitionId()
        roster = ctx.allGather(json.dumps({"rank": rank}))
        yield {
            "rank": rank,
            "world": len(roster),
            "ranks_seen": sorted(json.loads(r)["rank"] for r in roster),
            "n_rows": sum(1 for _ in iterator),
        }

    results = df.rdd.barrier().mapPartitions(exchange).collect()
    assert sorted(r["rank"] for r in results) == [0, 1, 2, 3]
    for r in results:
        assert r["world"] == 4
        assert r["ranks_seen"] == [0, 1, 2, 3]
    assert sum(r["n_rows"] for r in results) == 100


def test_barrier_sync_point(spark):
    """ctx.barrier() must hold tasks until all arrive (the pre-training
    sync before the collective ring forms)."""
    import time

    df = spark.range(8).repartition(2)

    def staged(iterator):
        from pyspark import BarrierTaskContext

        ctx = BarrierTaskContext.get()
        if ctx.partitionId() == 0:
            time.sleep(1.0)  # rank 0 arrives late
        before = time.time()
        ctx.barrier()
        after = time.time()
        # rank 1 must have waited for rank 0
        yield {"rank": ctx.partitionId(), "waited": after - before}

    results = {r["rank"]: r["waited"] for r in
               df.rdd.barrier().mapPartitions(staged).collect()}
    assert results[1] > 0.5, "the early task must block at the barrier"



def test_elastic_checkpoint_resume_on_restart(spark, tmp_path):
    """R24 elastic semantics (reference elastic.py:19-142 and
    tests/fault_tolerance.py:14-109): a worker dies mid-training; Spark
    ABORTS the barrier ResultStage (it never retries one), so recovery is
    train_barrier's driver-side run_with_restarts loop — each attempt
    reloads the rank-0 checkpoint and boosts only the remaining rounds
    (load_checkpoint's boost_rounds_left arithmetic). Total boosted rounds
    across attempts must equal the request — none lost, none repeated.
    Exercises the REAL product plumbing (run_with_restarts +
    load_checkpoint/save_checkpoint) around a fake booster, since xgboost
    itself is absent from this container."""
    import os
    import pickle

    from xgboost_ray_spark.ml.barrier import (
        load_checkpoint,
        run_with_restarts,
    )
    from xgboost_ray_spark.registry import ensure_workers_can_import

    ensure_workers_can_import(spark)
    ckpt = str(tmp_path / "model.ckpt")
    fail_marker = str(tmp_path / "fail_once")
    total_rounds = 5
    fail_after = 3

    df = spark.range(40).repartition(2)
    attempt_log = []

    def run_attempt(attempt):
        prev, rounds_left = load_checkpoint(ckpt, total_rounds)
        attempt_log.append((attempt, rounds_left))

        def train_like(iterator):
            import os as _os
            import pickle as _pickle

            from pyspark import BarrierTaskContext

            from xgboost_ray_spark.ml.barrier import save_checkpoint

            ctx = BarrierTaskContext.get()
            rank = ctx.partitionId()
            model = _pickle.loads(prev) if prev else 0  # = rounds boosted
            ctx.barrier()
            for _ in range(rounds_left):
                model += 1  # one synchronous boosting round
                if rank == 0:
                    # checkpoint_frequency=1 analogue of the rank-0
                    # after_iteration callback in _run_barrier_job
                    save_checkpoint(ckpt, _pickle.dumps(model), model)
                # Injected death, first attempt only: rank 1 dies once the
                # collective has boosted fail_after rounds.
                if (
                    rank == 1
                    and model == fail_after
                    and not _os.path.exists(fail_marker)
                ):
                    open(fail_marker, "w").close()
                    raise RuntimeError("injected worker death")
                ctx.barrier()  # end-of-round allreduce stand-in
            yield {"rank": rank, "model": model}

        return df.rdd.barrier().mapPartitions(train_like).collect()

    results = run_with_restarts(run_attempt, max_restarts=1)

    assert os.path.exists(fail_marker), "failure must actually have fired"
    assert sorted(r["rank"] for r in results) == [0, 1]
    for r in results:
        assert r["model"] == total_rounds  # every round boosted exactly once
    # the loop really retried, and the retry resumed from the checkpoint:
    # its rounds_left was the decremented remainder, not the full request
    assert len(attempt_log) == 2
    assert attempt_log[0] == (0, total_rounds)
    retry_attempt, retry_rounds = attempt_log[1]
    assert retry_attempt == 1
    # rank 0's round-fail_after checkpoint races the injected death (they
    # happen between the same two barriers), so the surviving checkpoint is
    # fail_after or fail_after-1 rounds — either way the retry must boost
    # strictly fewer than the full request (the decrement happened).
    assert 0 < retry_rounds <= total_rounds - (fail_after - 1)


def test_run_with_restarts_exhaustion():
    """The retry loop must re-raise once max_restarts is exhausted —
    mirroring the reference aborting after max_actor_restarts."""
    import pytest

    from xgboost_ray_spark.ml.barrier import run_with_restarts

    calls = []

    def always_fails(attempt):
        calls.append(attempt)
        raise RuntimeError("persistent failure")

    with pytest.raises(RuntimeError, match="persistent failure"):
        run_with_restarts(always_fails, max_restarts=2)
    assert calls == [0, 1, 2]  # initial + 2 restarts


def test_stop_flag_roundtrip(tmp_path):
    """StopFlag is a boolean over a shared path: absent -> False,
    requested -> True, cleared -> False again."""
    from xgboost_ray_spark.ml.stopping import StopFlag

    flag = StopFlag(str(tmp_path / "stop" / "STOP"))
    assert not flag.should_stop()
    flag.request_stop()
    assert flag.should_stop()
    flag.clear()
    assert not flag.should_stop()


def test_run_with_restarts_honors_stop_flag(tmp_path):
    """A cooperative stop requested while an attempt is failing must end
    the retry loop (TrainingStopped) instead of launching another
    attempt — the reference's Event actor semantics on its retry loop
    (main.py:1606-1713)."""
    import pytest

    from xgboost_ray_spark.ml.barrier import TrainingStopped, run_with_restarts
    from xgboost_ray_spark.ml.stopping import StopFlag

    flag = StopFlag(str(tmp_path / "STOP"))
    calls = []

    def fails_and_requests_stop(attempt):
        calls.append(attempt)
        flag.request_stop()  # e.g. an operator decides to abandon the job
        raise RuntimeError("worker died")

    with pytest.raises(TrainingStopped):
        run_with_restarts(fails_and_requests_stop, max_restarts=5, stop_flag=flag)
    assert calls == [0], "no second attempt after the stop request"


def test_stop_callback_requires_xgboost():
    """make_stop_callback is import-gated exactly like the barrier path."""
    import pytest

    from xgboost_ray_spark.ml.stopping import StopFlag, make_stop_callback

    try:
        import xgboost  # noqa: F401
        has_xgb = True
    except ImportError:
        has_xgb = False
    if has_xgb:  # pragma: no cover - container has no xgboost
        # Construction feature-probes the collective API: RuntimeError
        # only when is_distributed/allreduce/Op.MAX are missing; outside
        # the verified [1.7, 3.0) range it WARNS but still constructs,
        # so this path is exercised on any xgboost that kept the API.
        import warnings

        flag = StopFlag("/tmp/stopflag_cb_test")
        flag.clear()
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")  # version-range advisory
            cb = make_stop_callback(flag)
        assert hasattr(cb, "after_iteration")
        # Exercise the NON-distributed decision path end-to-end: poll
        # clear -> continue, poll set -> stop. This is the only leg a
        # single host can check; the allreduce leg needs a live ring.
        assert cb.after_iteration(None, 0, {}) is False
        flag.request_stop()
        assert cb.after_iteration(None, 1, {}) is True
        flag.clear()
    else:
        with pytest.raises(ImportError):
            make_stop_callback(StopFlag("/tmp/unused"))


def test_mllib_train_honors_stop_flag(spark, tmp_path):
    """A pre-set stop flag must end train() (MLlib backend) with
    TrainingStopped instead of fitting — the flag is reachable through
    the public GBTParams surface, not only the barrier helper."""
    import pytest

    from xgboost_ray_spark.matrix import MatrixSpec
    from xgboost_ray_spark.ml.barrier import TrainingStopped
    from xgboost_ray_spark.ml.params import GBTParams
    from xgboost_ray_spark.ml.stopping import StopFlag
    from xgboost_ray_spark.ml.train import train

    flag = StopFlag(str(tmp_path / "STOP"))
    flag.request_stop()
    df = spark.range(32).selectExpr(
        "cast(id % 2 as double) as label",
        "cast(id as double) as f0",
        "cast(id * 2 as double) as f1",
    )
    spec = MatrixSpec(label_cols=("label",), feature_cols=("f0", "f1"))
    with pytest.raises(TrainingStopped):
        train(
            {"objective": "binary:logistic", "max_depth": 2},
            df,
            spec,
            num_boost_round=2,
            gbt_params=GBTParams(num_workers=2, stop_flag_path=flag.path),
        )


def test_prepare_shards_keeps_query_groups_whole_and_sorted(spark):
    """Ranking shards (qid set) must hash-partition on qid — every query
    group lands WHOLE on one worker, sorted — not round-robin scatter
    (pairwise losses would compare documents of different queries and
    DMatrix(qid=...) requires sorted groups). xgboost-free on purpose."""
    from xgboost_ray_spark.matrix import MatrixSpec
    from xgboost_ray_spark.ml.barrier import prepare_shards

    rows = [(q, float(q * 10 + i), i % 3) for q in range(8) for i in range(5)]
    df = spark.createDataFrame(rows, "qid int, f double, rel int")
    spec = MatrixSpec(label_cols=("rel",), qid_col="qid")
    prepared, cols, eval_names, label_col, feats = prepare_shards(
        df, spec, num_workers=3
    )
    assert "qid" in cols and label_col == "rel" and feats == ["f"]
    assert eval_names == []
    assert prepared.rdd.getNumPartitions() == 3

    parts = prepared.select("qid").rdd.glom().collect()
    seen: dict[int, int] = {}
    for pi, part in enumerate(parts):
        qids = [r.qid for r in part]
        assert qids == sorted(qids), f"partition {pi} not qid-sorted"
        for q in qids:
            assert seen.setdefault(q, pi) == pi, (
                f"query group {q} split across partitions "
                f"{seen[q]} and {pi}"
            )
    assert len(seen) == 8


def test_prepare_shards_rejects_null_qids(spark):
    """A NULL qid must fail AT THE API BOUNDARY with a ValueError naming
    the column — hash-partitioned into a worker, it would otherwise die
    deep inside the barrier stage as an opaque DMatrix(qid=...) error
    that the restart loop then uselessly retries. Nulls in an EVAL set
    must be caught too (they ride the same tagged union)."""
    import pytest

    from xgboost_ray_spark.matrix import MatrixSpec
    from xgboost_ray_spark.ml.barrier import prepare_shards

    spec = MatrixSpec(label_cols=("rel",), qid_col="qid")
    bad = spark.createDataFrame(
        [(1, 1.0, 1), (None, 2.0, 0)], "qid int, f double, rel int"
    )
    with pytest.raises(ValueError, match="'qid'"):
        prepare_shards(bad, spec, num_workers=2)

    good = spark.createDataFrame(
        [(1, 1.0, 1), (2, 2.0, 0)], "qid int, f double, rel int"
    )
    with pytest.raises(ValueError, match="'qid'"):
        prepare_shards(good, spec, num_workers=2, evals=[(bad, "valid")])
    # and the clean path still shards
    prepared, *_ = prepare_shards(good, spec, num_workers=2)
    assert prepared.count() == 2


def test_prepare_shards_shuffles_exactly_once(spark):
    """prepare_shards must repartition the tagged UNION once — not each
    input frame. A per-frame qid repartition+sort would have its output
    ordering thrown away by the union shuffle: with k eval sets that is
    k+1 wasted full shuffles of the training data at cluster scale. The
    optimized plan may carry exactly ONE repartition node."""
    from xgboost_ray_spark.matrix import MatrixSpec
    from xgboost_ray_spark.ml.barrier import prepare_shards

    rows = [(q, float(q * 10 + i), i % 3) for q in range(8) for i in range(5)]
    df = spark.createDataFrame(rows, "qid int, f double, rel int")
    spec = MatrixSpec(label_cols=("rel",), qid_col="qid")
    prepared, *_ = prepare_shards(
        df, spec, num_workers=3,
        evals=[(df.filter("qid < 4"), "valid")],
    )
    plan = prepared._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("RepartitionByExpression") == 1, plan
    # MatrixSpec.prepare is a pure projection — no shuffle of its own.
    flat = spec.prepare(df)
    flat_plan = flat._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" not in flat_plan, flat_plan


def test_prepare_shards_and_mllib_training_carry_the_same_columns(spark):
    """Both training paths carry one column list, in one order: the
    features, then MatrixSpec.roles() (labels, weight, base_margin, qid,
    label bounds). A role dropped or reordered on one path only would
    train the two backends on different inputs."""
    from xgboost_ray_spark.matrix import MatrixSpec
    from xgboost_ray_spark.ml.barrier import prepare_shards
    from xgboost_ray_spark.ml.train import FEATURES_COL, assemble_features

    roles = ["y", "w", "m", "q", "lo", "hi"]
    df = spark.createDataFrame(
        [(1.0, 2.0, 0.0, 1.0, 1.0, 0.0, 1, 0.5, 1.5, 9.0)],
        ["f0", "f1", "extra", "y", "w", "m", "q", "lo", "hi", "junk"],
    )
    spec = MatrixSpec(
        label_cols=("y",),
        weight_col="w",
        base_margin_col="m",
        qid_col="q",
        label_lower_bound_col="lo",
        label_upper_bound_col="hi",
        ignore=("junk", "extra"),
    )
    assert list(spec.roles()) == roles
    want = ["f0", "f1", *roles]
    assembled = assemble_features(df, spec)
    assert [c for c in assembled.columns if c != FEATURES_COL] == want
    _, cols, *_ = prepare_shards(df, spec, num_workers=2)
    assert cols == want
