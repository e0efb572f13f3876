"""GEMM-backed batch top-k (functions/ann.py) parity tests."""

from __future__ import annotations


def test_dot_sql_matches_dot(spark):
    """dot_sql (the one-parse SQL-text fast path every ANN builder uses)
    must produce BIT-identical doubles to dot (the Column-composition
    canonical): the LSH bucket of a vector is the SIGN of this fold, so
    even one ULP of drift between the two forms would silently re-bucket
    borderline vectors and break the DuckDB oracle equivalence."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from xgboost_ray_spark.catalog import load_table
    from xgboost_ray_spark.functions.vector import dot, dot_sql

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(200)
    both = emb.select(
        dot(F.col("embedding"), F.col("embedding")).alias("col_form"),
        F.expr(dot_sql("embedding", "embedding")).alias("sql_form"),
    ).collect()
    assert both, "fixture corpus is empty"
    for r in both:
        # Exact equality on purpose — these are the same IEEE-754 fold.
        assert r.col_form == r.sql_form


# ---------------------------------------------------------------------------
# GEMM top-k parity vs the JVM-expression brute force (functions/ann.py)
# ---------------------------------------------------------------------------
def test_gemm_topk_matches_jvm_bruteforce(spark):
    """The BLAS scale path must return the same neighbors (and scores to
    float tolerance) as the exact JVM zip_with/aggregate cosine."""
    import numpy as np
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from xgboost_ray_spark.catalog import load_table
    from xgboost_ray_spark.functions.ann import gemm_topk
    from xgboost_ray_spark.functions.vector import dot
    from xgboost_ray_spark.registry import ensure_workers_can_import

    ensure_workers_can_import(spark)
    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    queries = [
        np.array(r.embedding, dtype=np.float64)
        for r in emb.orderBy("vec_id").limit(4).collect()
    ]
    k = 5
    got = gemm_topk(emb, np.stack(queries), k=k).toPandas()

    def cosine(a, b):
        return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))

    for qi, qvec in enumerate(queries):
        jvm = (
            emb.withColumn(
                "cos",
                cosine(F.array(*[F.lit(float(x)) for x in qvec]), F.col("embedding")),
            )
            .orderBy(F.desc("cos"), "vec_id")
            .limit(k)
            .toPandas()
        )
        mine = (
            got[got.query_id == qi]
            .sort_values(["cos", "vec_id"], ascending=[False, True])
            .reset_index(drop=True)
        )
        assert list(mine.vec_id) == list(jvm.vec_id), f"query {qi} neighbor set"
        assert np.allclose(mine.cos.to_numpy(), jvm.cos.to_numpy(), atol=1e-9)


# ---------------------------------------------------------------------------
# Quantized two-stage ANN (operators/similarity.py) invariants
# ---------------------------------------------------------------------------
def test_quantized_topk_partition_layout_invariant(spark):
    """Stage 1's candidate cut pre-reduces per (input partition, query);
    the FINAL result must not depend on how the corpus happens to be
    partitioned (the global top-rerank is contained in every union of
    per-partition top-reranks)."""
    from tests.conftest import SF_SMOKE
    from pyspark.sql import functions as F

    from xgboost_ray_spark.catalog import load_table
    from xgboost_ray_spark.operators.similarity import quantized_topk

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < 5)

    def rows(corpus):
        return sorted(
            (r.query_id, r.neighbor_id, r.rk, r.sim)
            for r in quantized_topk(q, corpus).collect()
        )

    base = rows(emb)
    assert base, "fixture produced no neighbors"
    assert rows(emb.repartition(13)) == base
    assert rows(emb.coalesce(1)) == base


def test_search_codes_zero_vector_is_all_zero_codes(spark):
    """An all-zero embedding must quantize to all-zero codes (norm
    clamped to 1), never NaN-through-floor garbage."""
    from pyspark.sql import functions as F

    from xgboost_ray_spark.operators.similarity import search_codes

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [3.0, 4.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: list(r.q) for r in search_codes(df).collect()}
    assert got[1] == [0, 0, 0]
    # sanity on a real vector: floor(3/5*127), floor(4/5*127), 0
    assert got[2] == [76, 101, 0]


def test_gemm_topk_rejects_nonpositive_k(spark):
    """k <= 0 must fail at the API boundary with a clear ValueError, not
    as an IndexError inside the worker ([-0:] slices the whole row and
    the heap comparison indexes an empty heap)."""
    import numpy as np
    import pytest

    from xgboost_ray_spark.functions.ann import gemm_topk

    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="k must be >= 1"):
        gemm_topk(df, np.eye(2), k=0)


def test_gemm_topk_skips_null_embeddings(spark):
    """A NULL embedding row must be skipped (the exact JVM path yields a
    NULL sim that never ranks), not crash np.stack and fail the job."""
    import numpy as np

    from xgboost_ray_spark.functions.ann import gemm_topk

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = gemm_topk(df, np.eye(2), k=3).toPandas()
    assert set(got["vec_id"]) == {1, 3}
    assert len(got) == 4  # 2 queries x 2 non-null corpus rows


def test_ivf_full_probe_equals_exact_topk(spark):
    """IVF's approximation comes ONLY from probing a subset of cells:
    with nprobe = N_CENTROIDS every cell is probed, the candidate set is
    the whole corpus, and the result must equal the exact brute-force
    kernel row-for-row (same tiebreaks, same rounding). Pins that the
    cell assignment/probe plumbing loses nothing it didn't choose to —
    a partitioning bug (vector assigned to no cell, probe set built on
    the wrong similarity) shows up here even when recall at nprobe=2
    happens to look plausible."""
    from xgboost_ray_spark.catalog import load_table
    from xgboost_ray_spark.operators.similarity import (
        N_CENTROIDS,
        cosine_topk,
        ivf_topk,
    )
    from xgboost_ray_spark.registry import ensure_workers_can_import
    from tests.conftest import SF_SMOKE

    ensure_workers_can_import(spark)
    corpus = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .filter("vec_id < 120")
    )
    queries = corpus.filter("vec_id < 6")

    def rows(df):
        return sorted(
            (r.query_id, r.rk, r.neighbor_id, r.sim) for r in df.collect()
        )

    exact = rows(cosine_topk(queries, corpus, k=4))
    ivf = rows(ivf_topk(queries, corpus, k=4, nprobe=N_CENTROIDS))
    assert ivf == exact, (
        f"full-probe IVF diverged from brute force: "
        f"missing={set(exact) - set(ivf)} extra={set(ivf) - set(exact)}"
    )


def test_quantized_full_rerank_equals_exact_topk(spark):
    """The two-stage quantized ANN approximates ONLY through the stage-1
    candidate cut: with rerank >= |corpus| both window cuts pass every
    vector and the float rerank must reproduce the exact kernel
    row-for-row — isolating the int8 quantization's effect to candidate
    SELECTION (never to the returned sims/ranks) and pinning that the
    two-level partition-local/global reduction drops nothing when the
    budget covers the corpus."""
    from xgboost_ray_spark.catalog import load_table
    from xgboost_ray_spark.operators.similarity import cosine_topk, quantized_topk
    from xgboost_ray_spark.registry import ensure_workers_can_import
    from tests.conftest import SF_SMOKE

    ensure_workers_can_import(spark)
    corpus = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .filter("vec_id < 120")
    )
    queries = corpus.filter("vec_id < 6")

    def rows(df):
        return sorted(
            (r.query_id, r.rk, r.neighbor_id, r.sim) for r in df.collect()
        )

    exact = rows(cosine_topk(queries, corpus, k=4))
    quant = rows(quantized_topk(queries, corpus, k=4, rerank=200))
    assert quant == exact, (
        f"full-rerank quantized ANN diverged from brute force: "
        f"missing={set(exact) - set(quant)} extra={set(quant) - set(exact)}"
    )
