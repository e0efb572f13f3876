"""Cooperative stop for distributed training.

The reference stops all workers mid-training through a Ray Event actor
polled once per boosting iteration (`main.py:628-652`, Event
`util.py:31-48`). Spark has no cross-executor event actor; the portable
equivalent is a flag file on storage every worker can read (DFS/NFS/
object store — here any shared path). Semantics match the reference:

  - the driver (or any worker) REQUESTS a stop; it does not kill tasks;
  - every worker observes the flag at an iteration boundary and returns
    cleanly, so the model trained so far is kept — unlike job
    cancellation, which discards the stage;
  - the restart loop (`run_with_restarts`) also honors the flag between
    attempts, so a stop requested during a crash-recovery gap is not
    lost.

At cluster scale the flag is one tiny object read per worker per
iteration — a metadata op against the DFS, not a data path. The xgboost
wiring is an iteration callback (import-gated like the rest of the
barrier path); the primitive itself and the restart-loop integration
are xgboost-free and unit-tested.
"""

from __future__ import annotations

import os


class StopFlag:
    """A cooperative stop signal shared through a filesystem path.

    The path must be visible to driver and executors (DFS/NFS; local FS
    suffices on local[*]). Existence of the file IS the signal — no
    content, no locking; creation is atomic enough for a boolean that
    only ever transitions False -> True.
    """

    def __init__(self, path: str):
        self.path = path

    def request_stop(self) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(self.path, "w"):
            pass

    def should_stop(self) -> bool:
        return os.path.exists(self.path)

    def clear(self) -> None:
        try:
            os.remove(self.path)
        except FileNotFoundError:
            pass


def make_stop_callback(flag: StopFlag):
    """xgboost ``TrainingCallback`` that ends training when the flag is
    set — the reference's per-iteration Event poll (`main.py:745-752`
    checks its stop event inside the actor's training loop). Returning
    True from ``after_iteration`` is xgboost's cooperative-stop
    contract and the booster keeps all completed rounds.

    The stop DECISION is itself allreduced (MAX over ranks): the flag
    file can land mid-iteration, so unsynchronized polls let rank 0 see
    it and leave the ring while rank 1 — having polled a moment earlier
    (or reading stale DFS metadata) — enters the next iteration's
    allreduce and hangs waiting for a departed peer. xgboost's own
    allreduces synchronize metric VALUES, not callback return values,
    so the agreement must be explicit. Import-gated: only call when
    xgboost is present.

    The callback depends on a specific xgboost Python collective surface
    (``collective.is_distributed``, ``collective.allreduce(np.int32
    array, Op.MAX)``) that has shifted across xgboost majors — so that
    surface is probed HERE, at construction, where a missing piece is a
    clear error at the API boundary instead of a worker crash deep
    inside a barrier stage. The probe is the one check: a build that has
    the surface is accepted whatever its version number."""
    import xgboost as xgb

    try:
        from xgboost import collective as _coll

        _probe = (_coll.is_distributed, _coll.allreduce, _coll.Op.MAX)
    except (ImportError, AttributeError) as exc:
        raise RuntimeError(
            f"make_stop_callback needs xgboost.collective.is_distributed/"
            f"allreduce/Op.MAX (xgboost {xgb.__version__}: {exc}); the "
            "stop-decision allreduce cannot be synchronized without them "
            "— see the docstring for why unsynchronized polls hang the "
            "ring."
        ) from exc

    class _StopOnFlag(xgb.callback.TrainingCallback):
        def after_iteration(self, model, epoch, evals_log) -> bool:
            local = 1 if flag.should_stop() else 0
            from xgboost import collective

            if collective.is_distributed():
                import numpy as np

                agreed = collective.allreduce(
                    np.array([local], dtype=np.int32), collective.Op.MAX
                )
                return bool(agreed[0])
            return bool(local)

    return _StopOnFlag()
