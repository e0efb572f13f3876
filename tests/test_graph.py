"""Unit tests for the iterative fixed-point operators (pagerank, k-means)
on crafted graphs where the exact result is hand-computable — covering
paths the fixture-driven oracle sweep can't reach (starved clusters,
symmetric fixed points, dangling-free invariants).
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.kmeans_mirror import farthest_point_order, sqdist
from xgboost_ray_spark.operators.graph import (
    PR_BASE,
    PR_SCALE,
    pagerank,
)
from xgboost_ray_spark.operators.similarity import (
    KM_SCALE,
    KM_SEED_SAMPLE,
    kmeans_assign,
)


def test_pagerank_two_node_cycle_is_fixed_point(spark):
    """A <-> B: each node's whole rank flows to the other, so rank stays
    at SCALE forever — base + damp*SCALE = SCALE exactly in the integer
    arithmetic (150000 + 85*1000000 div 100)."""
    edges = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    out = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    assert out == {1: PR_SCALE, 2: PR_SCALE}


def test_pagerank_star_concentrates_rank_on_hub(spark):
    """Bidirectional star (hub 0, leaves 1..4): the hub must end with
    strictly more rank than any leaf, leaves all equal by symmetry, and
    total mass never exceeds the injected mass (shares only lose floor
    remainders)."""
    leaves = [1, 2, 3, 4]
    rows = [(0, l) for l in leaves] + [(l, 0) for l in leaves]
    edges = spark.createDataFrame(rows, ["src", "dst"])
    out = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    assert len(out) == 5
    leaf_ranks = {out[l] for l in leaves}
    assert len(leaf_ranks) == 1, "symmetric leaves must tie exactly"
    assert out[0] > out[1]
    assert sum(out.values()) <= 5 * PR_SCALE
    assert all(r >= PR_BASE for r in out.values())


def test_kmeans_starved_cluster_keeps_seed_centroid(spark):
    """K exceeds the number of DISTINCT points, so farthest-point seeding
    exhausts the real geometry after two seeds (X = min-vec_id point,
    Y = its farthest) and the third pass sees all-zero min-distances —
    the (dist DESC, vec_id ASC) tie-break re-picks vec_id 0, duplicating
    seed X. Cluster 2 then STARVES in every round (ties go to the lowest
    k), and the update must carry its centroid forward (the COALESCE /
    ``by_k.get`` path) instead of dividing by zero or dropping the k —
    the final assignment still lands every point at exact zero distance
    on its own value's lowest-k centroid."""
    rows = [
        (0, [0.1, 0.1]),
        (1, [0.1, 0.1]),
        (2, [0.1, 0.1]),
        (3, [-0.4, -0.4]),
    ]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    out = kmeans_assign(vecs, k=3, iters=2).collect()
    assert len(out) == 4
    by_vec = {r["vec_id"]: r for r in out}
    # the duplicate X points tie between clusters 0 and 2 -> lowest k
    assert (
        by_vec[0]["cluster"] == by_vec[1]["cluster"] == by_vec[2]["cluster"] == 0
    )
    # the far point seeded cluster 1 (farthest from the min-vec_id point)
    assert by_vec[3]["cluster"] == 1
    # every point sits exactly on its centroid; the starved cluster 2
    # never crashes the update and never wins a tie against cluster 0
    assert all(r["dist"] == 0 for r in out)
    assert {r["cluster"] for r in out} == {0, 1}


def test_kmeans_empty_input_raises_named_error(spark):
    """An empty vectors frame (e.g. fully filtered upstream) must fail
    with an error naming the problem, not an opaque IndexError from the
    first-seed collect."""
    vecs = (
        spark.createDataFrame([(0, [0.1, 0.1])], ["vec_id", "embedding"])
        .withColumn("embedding", F.col("embedding").cast("array<float>"))
        .filter(F.col("vec_id") < 0)
    )
    with pytest.raises(ValueError, match="empty input"):
        kmeans_assign(vecs, k=2, iters=1)


def test_kmeans_farthest_point_seeding_recovers_adversarial_blobs(spark):
    """The round-9 control that motivated the seeding swap (SCALE.md):
    8 well-separated blobs with BLOB-SORTED vec_ids — the adversarial
    ordering under which fixed-first-K seeding put ALL K seeds in blob 0
    and converged at ~97x the best-of-random inertia. Farthest-point
    (greedy max-min) provably lands one seed per blob once inter-blob
    separation exceeds twice the intra-blob diameter, so the final
    clustering must recover the blobs exactly — each blob one cluster,
    all 8 clusters used, and within-cluster squared distances bounded by
    the jitter scale (~1x-optimal inertia), not the blob separation."""
    centers = [
        (-0.4, -0.4), (-0.4, 0.0), (-0.4, 0.4), (0.0, -0.4),
        (0.0, 0.4), (0.4, -0.4), (0.4, 0.0), (0.4, 0.4),
    ]
    jitter = [(-0.01, -0.01), (-0.01, 0.01), (0.01, -0.01),
              (0.01, 0.01), (0.0, 0.0), (0.02, 0.0)]
    rows = [
        (b * len(jitter) + i, [cx + jx, cy + jy])
        for b, (cx, cy) in enumerate(centers)
        for i, (jx, jy) in enumerate(jitter)
    ]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    out = kmeans_assign(vecs, k=8, iters=2).collect()
    assert len(out) == len(rows)
    blob_of = {vid: vid // len(jitter) for vid, _ in rows}
    clusters_per_blob: dict[int, set[int]] = {}
    for r in out:
        clusters_per_blob.setdefault(blob_of[r["vec_id"]], set()).add(
            r["cluster"]
        )
    assert all(len(cs) == 1 for cs in clusters_per_blob.values()), (
        f"a blob split across clusters: {clusters_per_blob}"
    )
    assert len({next(iter(cs)) for cs in clusters_per_blob.values()}) == 8, (
        f"blobs merged into fewer than 8 clusters: {clusters_per_blob}"
    )
    # inertia at the jitter scale: max squared distance to a centroid is
    # bounded by (2 * 0.02 * KM_SCALE)^2 per axis, nowhere near the
    # separation scale (0.4 * KM_SCALE)^2 a blob-0-collapsed seeding pays
    assert all(r["dist"] <= 2 * (2 * 0.02 * KM_SCALE) ** 2 for r in out)


def test_kmeans_assigns_each_point_to_nearest_centroid(spark):
    """Two well-separated blobs, K=2: every point must land with its blob
    and converged within-cluster distances are exact integers."""
    rows = [(i, [0.3 + 0.001 * i, 0.3]) for i in range(3)] + [
        (10 + i, [-0.3 - 0.001 * i, -0.3]) for i in range(3)
    ]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    out = kmeans_assign(vecs, k=2, iters=2).collect()
    blob_a = {r["cluster"] for r in out if r["vec_id"] < 10}
    blob_b = {r["cluster"] for r in out if r["vec_id"] >= 10}
    assert len(blob_a) == 1 and len(blob_b) == 1 and blob_a != blob_b


def test_kmeans_matches_pure_python_mirror(spark):
    """The whole k-means run — one-pass seeding, Lloyd rounds and the final
    assignment — must equal a pure-Python mirror of it. The hash-ranked
    seed sample (KM_SEED_SAMPLE points) covers this 40-point corpus, so
    the mirror's greedy runs over every point. Pinned on an irregular
    corpus (clustered + stragglers + a duplicate coordinate pair) where
    any semantic drift in the greedy, the (dist, k) tie-break or the
    integer centroid update would move a seed or a point."""
    rows = (
        [(i, [0.31 + 0.003 * (i % 5), 0.29 - 0.002 * i]) for i in range(12)]
        + [(20 + i, [-0.35 + 0.004 * i, -0.3]) for i in range(12)]
        + [(40 + i, [0.4 - 0.05 * i, -0.45 + 0.03 * i]) for i in range(14)]
        + [(60, [0.11, 0.17]), (61, [0.11, 0.17])]  # exact duplicate coords
    )
    assert len(rows) <= KM_SEED_SAMPLE
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    got = sorted(map(tuple, kmeans_assign(vecs, k=5, iters=2).collect()))

    # Quantize the float32 values the engine reads: FLOOR((x + 0.5) * SCALE)
    # in double, like _km_quantize_expr.
    ids = [vid for vid, _ in rows]
    qs = [
        [math.floor((float(np.float32(v)) + 0.5) * KM_SCALE) for v in p]
        for _, p in rows
    ]
    assert ids == sorted(ids)  # the greedy's ties go to the lower vec_id
    # Non-negative coordinates: floor division equals Spark's truncating div.
    assert min(min(q) for q in qs) >= 0
    cents = [(kk, qs[i]) for kk, i in enumerate(farthest_point_order(qs, 5))]

    def assign():
        return [min((sqdist(q, c), kk) for kk, c in cents) for q in qs]

    for _ in range(2):
        best = assign()
        updated = []
        for kk, c in cents:
            members = [q for q, (_, bk) in zip(qs, best) if bk == kk]
            if members:  # an empty cluster keeps its centroid
                c = [sum(col) // len(members) for col in zip(*members)]
            updated.append((kk, c))
        cents = updated
    want = sorted((vid, kk, d) for vid, (d, kk) in zip(ids, assign()))
    assert got == want
