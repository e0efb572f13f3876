"""Distributed lifecycle callbacks + worker session API.

Parity with the reference's ``DistributedCallback``
(xgboost_ray/callback.py:14-58, fan-out :62-102) and the worker session
helpers (xgboost_ray/session.py:8-81):

  reference                              here
  ---------                              ----
  DistributedCallback hooks run on       the load/train hooks; invoked inside
  every RayXGBoostActor around           the barrier task (xgb backend) or
  load/train/predict                     driver-side around data loading and
                                         fit (mllib backend — workers are
                                         opaque to MLlib, documented
                                         difference). No predict hooks:
                                         predict is a plain Spark transform
                                         with no worker lifecycle to hook
  get_actor_rank() (session.py:37)       get_worker_rank(): BarrierTaskContext
                                         .partitionId() inside a barrier
                                         stage, 0 on the driver
  get_rabit_rank() (session.py:55)       same value under the xgb backend
  put_queue(item) (session.py:63-81)     collect_to_driver(): items return as
                                         part of the barrier stage's result
                                         (Spark has no live actor queue; the
                                         reference's per-iteration streaming
                                         becomes stage-end delivery)
"""

from __future__ import annotations

from typing import Any, Sequence


class DistributedCallback:
    """Subclass and override any subset — parity: callback.py:14-58."""

    def on_init(self, ctx: "WorkerContext", **kwargs: Any) -> None:
        pass

    def before_data_loading(self, ctx: "WorkerContext", **kwargs: Any) -> None:
        pass

    def after_data_loading(self, ctx: "WorkerContext", **kwargs: Any) -> None:
        pass

    def before_train(self, ctx: "WorkerContext", **kwargs: Any) -> None:
        pass

    def after_train(self, ctx: "WorkerContext", result: Any, **kwargs: Any) -> None:
        pass


class WorkerContext:
    """What a hook sees: rank + world size + a driver-bound item list."""

    def __init__(self, rank: int = 0, num_workers: int = 1):
        self.rank = rank
        self.num_workers = num_workers
        self.queued: list[Any] = []

    def put_queue(self, item: Any) -> None:
        """Reference session.put_queue (session.py:63-81): items are
        delivered to the driver with the stage result (not live-streamed —
        Spark barrier stages report at completion)."""
        self.queued.append(item)


def fire_hook(
    callbacks: Sequence[DistributedCallback] | None,
    hook: str,
    ctx: WorkerContext,
    **kwargs: Any,
) -> None:
    """Run ``hook`` on every callback in list order — the reference's
    container fan-out (callback.py:62-102)."""
    for cb in callbacks or ():
        getattr(cb, hook)(ctx, **kwargs)


def get_worker_rank() -> int:
    """Rank of the current task (reference get_actor_rank, session.py:37):
    the barrier partition id inside a barrier stage, else 0 (driver /
    non-barrier context — the reference returns rank 0 outside actors too)."""
    try:
        from pyspark import BarrierTaskContext

        ctx = BarrierTaskContext.get()
        return ctx.partitionId() if ctx is not None else 0
    except Exception:
        return 0
