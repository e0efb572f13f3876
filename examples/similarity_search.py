"""Similarity search over an embedding corpus — three scale paths, one API.

The s27 registry family defines the semantics; this example shows when to
reach for which physical strategy against the same `embeddings` table:

  1. **JVM brute force** (`operators.similarity.cosine_topk`) — exact,
     zero Python, right when the query set is small (a broadcast
     nested-loop: O(Q x corpus) JVM expressions, corpus never shuffles).
  2. **GEMM batch scoring** (`functions.ann.gemm_topk`) — exact, right
     when Q is large enough that per-row expression trees lose to BLAS-3:
     one numpy matmul per Arrow batch, partition-local top-k heaps, at
     most partitions x Q x k rows leave the scan stage.
  3. **LSH bucketing** (`operators.similarity.lsh_cosine_topk`) —
     approximate, right at corpus scales where even one exact pass is too
     much: sign-random-projection buckets make candidate sets tiny, and
     recall is set by the plane count (``similarity.N_PLANES``).
  4. **Quantized two-stage** (`operators.similarity.quantized_topk`) —
     the memory-bandwidth dial: an int8 index scan scores everything
     with integer dot products (~cosine after normalization), float
     math touches only the rerank candidates.

All four return the same shape — (query id, neighbor id, score) — so a
pipeline can swap strategies per corpus size without touching callers.

Run: python examples/similarity_search.py [--sf-dir /root/testdata/sf0.001]
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import argparse

import numpy as np
from pyspark.sql import functions as F

from xgboost_ray_spark.catalog import load_table
from xgboost_ray_spark.functions.ann import gemm_topk
from xgboost_ray_spark.operators.similarity import cosine_topk, lsh_cosine_topk
from xgboost_ray_spark.registry import ensure_workers_can_import
from xgboost_ray_spark.session import get_spark

K = 5
N_QUERIES = 4


def main(sf_dir: str = "/root/testdata/sf0.001") -> dict:
    spark = get_spark(app_name="example-similarity-search")
    ensure_workers_can_import(spark)
    corpus = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = corpus.orderBy("vec_id").limit(N_QUERIES)

    # 1. Exact, JVM-side: small query set broadcast against the corpus.
    exact = cosine_topk(queries, corpus, k=K)

    # 2. Exact, BLAS: same ranking (gemm keeps the self-match; the JVM
    # path excludes it), numpy GEMM per Arrow batch.
    qm = np.stack(
        [np.asarray(r.embedding, dtype=np.float64) for r in queries.collect()]
    )
    gemm = gemm_topk(corpus, qm, k=K)

    # 3. Approximate: sign-random-projection buckets, candidates only.
    approx = lsh_cosine_topk(queries, corpus, k=K)

    n_exact = exact.count()
    n_gemm = gemm.count()
    # recall of LSH vs exact on the self-query (vec_id matches itself)
    hits = (
        approx.join(
            exact.select(
                F.col("query_id").alias("q"), F.col("neighbor_id").alias("v")
            ),
            (F.col("query_id") == F.col("q"))
            & (F.col("neighbor_id") == F.col("v")),
            "left_semi",
        ).count()
    )
    recall = hits / n_exact if n_exact else 0.0

    # 4. Quantized two-stage: int8 candidates, float rerank. Near-exact —
    # the same (queries, corpus, k) API as the other strategies.
    from xgboost_ray_spark.operators.similarity import quantized_topk

    quantized = quantized_topk(queries, corpus, k=K, rerank=4 * K)
    qhits = (
        quantized.join(
            exact.select(
                F.col("query_id").alias("q"), F.col("neighbor_id").alias("v")
            ),
            (F.col("query_id") == F.col("q"))
            & (F.col("neighbor_id") == F.col("v")),
            "left_semi",
        ).count()
    )
    qrecall = qhits / n_exact if n_exact else 0.0

    print(
        f"exact={n_exact} gemm={n_gemm} lsh_recall_vs_exact={recall:.2f} "
        f"quantized_recall_vs_exact={qrecall:.2f}"
    )
    assert n_exact == N_QUERIES * K
    assert n_gemm == N_QUERIES * K
    assert qrecall >= 0.8, "int8 rerank should recover most exact neighbors"
    return {
        "exact": n_exact,
        "gemm": n_gemm,
        "recall": recall,
        "quantized_recall": qrecall,
    }


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    main(ap.parse_args().sf_dir)
