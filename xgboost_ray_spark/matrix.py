"""Role-tagged distributed matrix — the Spark-native ``RayDMatrix``.

The reference's ``RayDMatrix`` (xgboost_ray/matrix.py:697-968) bundles a
lazily-sharded 2-D feature matrix with per-row metadata roles (label, weight,
base_margin, qid, label bounds) and load-time projection (``ignore``).  On
Spark the distributed frame already exists — a ``pyspark.sql.DataFrame`` —
so the matrix abstraction collapses to a *spec*: which columns play which
role.  This mirrors the ``pyspark.ml`` Params convention (labelCol /
weightCol / ...).

Sharding (xgboost_ray/matrix.py:106-124, 1088-1110) maps onto Spark
partitioning:

  - ``INTERLEAVED`` (row i -> worker i mod n)  -> exact mod-n over a
    distributed contiguous row index (zipWithIndex pattern), partitioned
    on the shard rank — ``combine_data`` inverts it bit-exactly
  - ``BATCH`` (contiguous ranges)              -> range partitioning on a
    monotonic row id (``df.repartitionByRange``)
  - ``FIXED`` (locality-driven)                -> Spark scheduler locality;
    ``df.coalesce(n)`` preserves existing partition placement

``combine_data`` (xgboost_ray/matrix.py:1114-1157) re-assembled predictions
into original row order after sharding.  DataFrame predictions stay a column
joined to their rows, so the inverse shuffle is only needed when a caller
insists on a local numpy array in input order — provided here for API parity.
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SHARD_COL = "__shard__"  # shard rank (row_id mod num_shards)
ROW_ID_COL = "__row_id__"  # contiguous 0-based original position


class ShardingMode(Enum):
    """Parity with RayShardingMode (xgboost_ray/matrix.py:106-124)."""

    INTERLEAVED = 1
    BATCH = 2
    FIXED = 3


@dataclass(frozen=True)
class MatrixSpec:
    """Names the role columns inside a DataFrame (cf. matrix.py:787-807).

    ``feature_cols=None`` means "every column not claimed by a role", in the
    reference's column-order-preserving sense (matrix.py:345-347).
    ``label_cols`` with >1 entry is the multi-label case
    (matrix.py:405-425).  ``ignore`` drops columns at plan time — Catalyst
    turns it into scan-level column pruning (matrix.py:744-745 analogue).
    """

    label_cols: tuple[str, ...] = ()
    feature_cols: tuple[str, ...] | None = None
    weight_col: str | None = None
    base_margin_col: str | None = None
    qid_col: str | None = None
    label_lower_bound_col: str | None = None
    label_upper_bound_col: str | None = None
    feature_weights: tuple[float, ...] | None = None
    missing: float | None = None
    ignore: tuple[str, ...] = ()
    # "dmatrix" | "quantile" — the reference's RayDMatrix vs
    # Ray(Device)QuantileDMatrix split (matrix.py:697 vs matrix.py:977):
    # "quantile" makes the barrier path build xgb.QuantileDMatrix (histogram
    # bins computed once at construction — the memory-lean hist-method path;
    # eval sets bin against the train matrix via ref=). GPU DeviceQuantile
    # stays deferred (needs stage-level resource scheduling).
    matrix_type: str = "dmatrix"

    def __post_init__(self) -> None:
        if self.matrix_type not in ("dmatrix", "quantile"):
            raise ValueError(
                f"matrix_type must be 'dmatrix' or 'quantile', "
                f"got {self.matrix_type!r}"
            )

    def roles(self) -> tuple[str, ...]:
        """The set role columns in one fixed order: labels, weight,
        base_margin, qid, label bounds."""
        return tuple(self.label_cols) + tuple(
            c
            for c in (
                self.weight_col,
                self.base_margin_col,
                self.qid_col,
                self.label_lower_bound_col,
                self.label_upper_bound_col,
            )
            if c
        )

    def role_cols(self) -> set[str]:
        """Every column that is never a feature: the roles and ``ignore``."""
        return set(self.roles()) | set(self.ignore)

    def features_of(self, df: DataFrame) -> list[str]:
        """Feature columns, input order preserved (matrix.py:345-347).

        This module's own sharding metadata (``__shard__``,
        ``__row_id__``) is never a feature — without the exclusion a
        sharded frame would silently train on the row index and shard
        rank, a leaky unbounded feature."""
        if self.feature_cols is not None:
            return list(self.feature_cols)
        roles = self.role_cols() | {SHARD_COL, ROW_ID_COL}
        return [c for c in df.columns if c not in roles]

    def training_cols(self, df: DataFrame) -> list[str]:
        """The columns both training paths carry (reference
        _split_dataframe, matrix.py:283-358): the features, then
        ``roles()``, each once."""
        return list(dict.fromkeys([*self.features_of(df), *self.roles()]))

    def prepare(self, df: DataFrame) -> DataFrame:
        """Apply the ``ignore`` projection — a plan-time column drop.

        Query groups are not clustered here: the reference sorts rows by
        qid only because ``DMatrix(qid=...)`` needs it
        (ensure_sorted_by_qid, matrix.py:70-102), so the one qid
        repartition + sort lives in ``ml.barrier.prepare_shards``, where
        the DMatrix is built. The MLlib ranker is pointwise and never
        reads qid."""
        return df.drop(*[c for c in self.ignore if c in df.columns])


def _with_contiguous_index(df: DataFrame, idx_col: str) -> DataFrame:
    """Contiguous 0-based global row index, computed distributedly.

    The DataFrame twin of ``RDD.zipWithIndex``: tag each row with its input
    partition id and a within-partition monotonic id (both narrow, computed
    BEFORE any shuffle so they describe the source partitioning), run one
    tiny job for per-partition counts (O(num_partitions) driver rows), then
    index = partition_offset + within-partition rank. Like zipWithIndex,
    assumes the input recomputes deterministically between the count job and
    the main job (true for file scans and deterministic lineage).
    """
    # Collision-safe temp names: clobbering a caller's identically-named
    # column (then dropping it below) would silently destroy data.
    pid_c, mid_c = "__pid__", "__mid__"
    while pid_c in df.columns or mid_c in df.columns:
        pid_c, mid_c = pid_c + "x", mid_c + "x"
    tagged = df.withColumn(pid_c, F.spark_partition_id()).withColumn(
        mid_c, F.monotonically_increasing_id()
    )
    counts = {
        r[pid_c]: r["count"]
        for r in tagged.groupBy(pid_c).count().collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    omap = F.create_map(
        *[F.lit(x) for pid_off in sorted(offsets.items()) for x in pid_off]
    )
    w = Window.partitionBy(pid_c).orderBy(mid_c)
    return (
        tagged.withColumn(
            idx_col,
            (omap[F.col(pid_c)] + F.row_number().over(w) - 1).cast("long"),
        )
        .drop(pid_c, mid_c)
    )


def shard(df: DataFrame, num_shards: int, mode: ShardingMode = ShardingMode.INTERLEAVED,
          order_col: str | None = None) -> DataFrame:
    """Partition ``df`` into ``num_shards`` per the sharding mode.

    Parity with _get_sharding_indices (xgboost_ray/matrix.py:1088-1110),
    re-expressed as Spark partitioning (no driver-side row movement — the
    shuffle service moves rows).

    INTERLEAVED implements the reference's exact ``i mod n`` interleave:
    rows get a contiguous global index (``order_col`` if the caller already
    has a contiguous 0-based one, else a distributed zipWithIndex), shard
    rank = index mod num_shards, and rows are RANGE-partitioned on the
    rank and sorted by (rank, index) within partitions. The output keeps
    two metadata columns — ``SHARD_COL`` (rank) and ``ROW_ID_COL``
    (original position) — which is what makes ``combine_data`` an exact
    inverse: extract shard k as the rows with rank k ordered by position,
    and ``combine_data`` re-interleaves them to the original order
    bit-exactly (round-trip test mirrors reference
    matrix.py:1088-1110 ↔ 1114-1157).

    Extraction contract: select a shard by FILTERING on ``SHARD_COL``,
    never by Spark partition index — partition placement is an internal
    balance detail. Range placement keeps ranks in partition-index order
    and (with n equal-sized ranks over n partitions) one rank per task;
    the hash placement it replaces could co-locate two full shards on
    one task and leave another empty (murmur3(rank) % n collides — e.g.
    both ranks of n=2 hash to partition 0), doubling one worker's memory
    for no reason.
    """
    if mode is ShardingMode.INTERLEAVED:
        if order_col is not None:
            out = df.withColumn(ROW_ID_COL, F.col(order_col).cast("long"))
        else:
            out = _with_contiguous_index(df, ROW_ID_COL)
        return (
            out.withColumn(
                SHARD_COL, (F.col(ROW_ID_COL) % num_shards).cast("int")
            )
            .repartitionByRange(num_shards, SHARD_COL)
            .sortWithinPartitions(SHARD_COL, ROW_ID_COL)
        )
    if mode is ShardingMode.BATCH:
        col = order_col
        out = df
        if col is None:
            # Collision-safe temp name — hardcoding ROW_ID_COL here would
            # clobber (and then drop) the row-id column of an already-
            # sharded input, breaking its combine_data round trip.
            col = "__batch_ord__"
            while col in df.columns:
                col += "x"
            out = df.withColumn(col, F.monotonically_increasing_id())
        out = out.repartitionByRange(num_shards, F.col(col))
        return out.drop(col) if order_col is None else out
    # FIXED: trust current placement; only adjust the partition count.
    return df.coalesce(num_shards)


def combine_data(shards: list[np.ndarray], mode: ShardingMode) -> np.ndarray:
    """Re-assemble per-shard outputs into original row order.

    Parity with combine_data (xgboost_ray/matrix.py:1114-1157), including
    the 2-D ``multi:softprob`` case.  Only needed for numpy round-trips;
    DataFrame pipelines keep predictions joined to rows.
    """
    if mode is ShardingMode.BATCH or mode is ShardingMode.FIXED:
        return np.concatenate(shards)
    # INTERLEAVED: row i of shard s was original row s + i * n_shards.
    n = sum(len(s) for s in shards)
    first = shards[0]
    out_shape = (n,) if first.ndim == 1 else (n, first.shape[1])
    out = np.empty(out_shape, dtype=first.dtype)
    for rank, s in enumerate(shards):
        out[rank :: len(shards)] = s
    return out
