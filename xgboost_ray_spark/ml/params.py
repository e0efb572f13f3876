"""Training cluster/fault-tolerance parameters.

Parity with ``RayParams`` (xgboost_ray/main.py:450-540): the fields keep the
reference names so a user can port call sites mechanically. Reference fields
with no Spark counterpart have no field here, so setting one fails with a
``TypeError`` instead of being silently ignored.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class GBTParams:
    """Spark analogue of RayParams (xgboost_ray/main.py:450).

    num_actors        -> num_workers: barrier-stage partition count (xgboost
                         backend) / a repartition hint (MLlib backend).
    cpus_per_actor    -> cpus_per_worker: maps to spark.task.cpus intent; in
                         the barrier task we set OMP_NUM_THREADS from it
                         (reference main.py:355-362).
    max_actor_restarts-> max_restarts: driver-side retry loop around the
                         training job (reference retry loop main.py:1606-1713;
                         Spark additionally re-runs barrier stages itself).
    checkpoint_frequency: boosting rounds between checkpoints (reference
                         _save_checkpoint_callback main.py:612-626).

    Not carried over: gpus_per_actor (GPU stage-level scheduling is not
    wired; reference main.py:387-418) and elastic_training (Spark barrier
    stages are all-or-nothing, so elastic shrink maps to the max_restarts
    retry at current parallelism; SURVEY §7 gap).
    """

    num_workers: int = 2
    cpus_per_worker: int = 0
    max_restarts: int = 0
    checkpoint_frequency: int = 5
    checkpoint_path: str | None = None
    seed: int = 42
    # Cooperative-stop flag path (the reference's stop Event actor; see
    # ml/stopping.py). When set, both backends honor a stop request
    # between restart attempts, and the xgboost backend additionally
    # polls it each boosting iteration.
    stop_flag_path: str | None = None

    def validated(self) -> "GBTParams":
        if self.num_workers < 1:
            raise ValueError("num_workers must be >= 1")
        return self
