"""Batch approximate/exact nearest-neighbor helpers over embedding columns.

The registry's s27 family covers the *semantics* (brute-force cosine,
LSH, IVF, kNN) with JVM expressions sized for oracle checking.  This
module adds the *throughput* path for bulk scoring: a GEMM-backed
``gemm_topk`` that scores every (query, corpus) pair with one numpy
matrix multiply per Arrow batch instead of one JVM expression tree per
row.

Scale design (100 TB corpus, Q queries, top-k):

  - the query matrix broadcasts once per executor (``sc.broadcast`` of a
    float64 ndarray, not a join side), so the corpus NEVER shuffles;
  - each ``mapInPandas`` batch computes ``Q @ batch.T`` — BLAS-3, the
    fastest dense primitive available without GPUs;
  - each *partition* emits at most ``Q x k`` rows (a running heap across
    its batches), so the post-scan reduction is ``partitions x Q x k``
    rows — independent of corpus size;
  - the global reduction is one window over ``query_id`` (Q groups).

Reference analogue: xgboost_ray pushes bulk prediction through
``actor.predict`` with a broadcast model (reference ``main.py:795-810``,
``main.py:1790``); same shape here with the query matrix as the
broadcast artifact.
"""

from __future__ import annotations

import heapq
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def gemm_topk(df: DataFrame, queries: np.ndarray, k: int = 10) -> DataFrame:
    """Exact cosine top-k of ``queries`` against a ``(vec_id, embedding)``
    corpus DataFrame.

    Returns a DataFrame ``(query_id, vec_id, cos)`` with ``k`` rows per
    query (fewer if the corpus is smaller). Scores are float64; rows per
    query are ordered only by the final window, so the result is
    deterministic up to exact-tie ordering (broken by ``vec_id``).
    """
    qm = np.ascontiguousarray(np.asarray(queries, dtype=np.float64))
    if qm.ndim != 2:
        raise ValueError(f"queries must be 2-D (Q, dim), got {qm.shape}")
    if k < 1:
        # Fail at the API boundary: inside the worker, k=0 makes the
        # [-take:] slice degenerate ([-0:] is the WHOLE row) and the heap
        # comparison index an empty heap — an opaque task failure instead
        # of this error.
        raise ValueError(f"k must be >= 1, got {k}")
    n_q = qm.shape[0]
    bq = df.sparkSession.sparkContext.broadcast(qm)

    def score_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q = bq.value
        qn = np.linalg.norm(q, axis=1)
        qn[qn == 0.0] = 1.0
        # Per-query min-heap of (cos, -vec_id): partition-local top-k.
        # vec_id is NEGATED so a cosine tie at the heap root prefers the
        # SMALLEST id — the same tie-break the final window (and the
        # exact JVM path) applies; (cos, vec_id) would evict the id the
        # window wants to keep.
        heaps: list[list[tuple[float, int]]] = [[] for _ in range(n_q)]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # NULL embeddings: np.stack over a column containing None
            # raises and fails the whole job, where the exact JVM cosine
            # path yields a NULL sim that simply never ranks. Match that
            # semantic — skip NULL/empty vectors (they can't be a
            # neighbor); ragged non-null dims still raise, as genuine
            # corpus corruption should.
            vecs = pdf["embedding"].to_numpy()
            mask = np.array(
                [v is not None and len(v) > 0 for v in vecs], dtype=bool
            )
            if not mask.any():
                continue
            ids = pdf["vec_id"].to_numpy()[mask]
            cm = np.stack(
                [np.asarray(v, dtype=np.float64) for v in vecs[mask]]
            )
            cn = np.linalg.norm(cm, axis=1)
            cn[cn == 0.0] = 1.0
            sims = (q @ cm.T) / qn[:, None] / cn[None, :]
            take = min(k, sims.shape[1])
            for qi in range(n_q):
                row = sims[qi]
                if sims.shape[1] > k:
                    cand = np.argpartition(row, -take)[-take:]
                    # argpartition breaks score ties arbitrarily — a row
                    # tied with the k-th score could be dropped before
                    # the heap's (cos, -id) tiebreak sees it. Re-include
                    # every row tied at the selection boundary; the heap
                    # then resolves them deterministically.
                    kth = row[cand].min()
                    ties = np.nonzero(row == kth)[0]
                    if len(ties) > (row[cand] == kth).sum():
                        cand = np.union1d(cand, ties)
                else:
                    cand = range(sims.shape[1])
                heap = heaps[qi]
                for j in cand:
                    item = (float(row[j]), -int(ids[j]))
                    if len(heap) < k:
                        heapq.heappush(heap, item)
                    elif item > heap[0]:
                        heapq.heappushpop(heap, item)
        out_q, out_id, out_cos = [], [], []
        for qi, heap in enumerate(heaps):
            for cos, neg_vid in heap:
                out_q.append(qi)
                out_id.append(-neg_vid)
                out_cos.append(cos)
        yield pd.DataFrame(
            {"query_id": pd.Series(out_q, dtype="int64"),
             "vec_id": pd.Series(out_id, dtype="int64"),
             "cos": pd.Series(out_cos, dtype="float64")}
        )

    partial = df.select("vec_id", "embedding").mapInPandas(
        score_partition, schema="query_id long, vec_id long, cos double"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.col("vec_id"))
    return (
        partial.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
