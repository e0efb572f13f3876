"""Iterative graph analytics over relationship edges (SURVEY.md §2.2 S24).

The reference's data layer has no graph operators (its only iterative
distributed loop is boosting itself, ``main.py:1341-1747``); entity-graph
signals — which suppliers/customers sit at the center of the purchase
network — are a standard feature-engineering input for the models the
reference trains, so the family ships a PageRank alongside s24d's Markov
transition matrix and s26g's connected components.

Design notes (100 TB):

* The rank vector is |nodes|-sized — tiny next to the edge list.  Each
  iteration is one hash join (ranks ⋈ edges on src, both pre-keyed) plus
  one aggregate on dst: the classic two-shuffle PageRank round.  Edges are
  persisted once with out-degrees attached, so the per-round work never
  re-reads or re-shuffles the raw fact tables.
* **Fixed-point integer arithmetic** (ranks scaled by 1e6, integral
  division for the share and damping steps) makes every round a pure
  bigint computation: sums are associative and order-independent, so the
  result is bit-identical across engines, partition layouts, and retries —
  the same reproducibility contract the closed-form OLS track (ml/queries
  s30c/s30d) provides for model training.  Floating-point PageRank would
  drift in the last ulps under Spark's nondeterministic reduce order and
  could never be hash-checked against an oracle.
* Convergence: fixed ``PR_ITERS`` rounds (the oracle unrolls the same
  rounds as CTEs).  Production loops to a rank-delta tolerance instead;
  the loop body is identical and s26g demonstrates the convergence-metric
  + lineage-checkpoint idiom for open-ended iteration counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xgboost_ray_spark.catalog import load_table
from xgboost_ray_spark.registry import register

PR_SCALE = 1_000_000  # fixed-point factor: rank 1.0 == 1_000_000
PR_DAMP_PCT = 85  # damping factor d = 0.85, as an integer percentage
PR_BASE = PR_SCALE * (100 - PR_DAMP_PCT) // 100  # (1-d) teleport mass
PR_ITERS = 3


def pagerank(edges: DataFrame) -> DataFrame:
    """Fixed-point PageRank over a directed edge list (``src``, ``dst``).

    Every node must appear as a ``src`` (callers with dangling nodes add
    reverse edges or self-loops first — the bipartite builder below feeds
    both directions, so its walk has no dangling mass).  Returns
    ``(node, rank)`` with rank scaled by :data:`PR_SCALE`.
    """
    # Out-degrees ride along with the edges: computed once, persisted once,
    # so each iteration's join carries (src, dst, od) and never revisits
    # the degree aggregate. The persist stays LAZY: the checkpoint job's
    # first stage over esrc fills the cache, so an eager count() here would
    # only add a full action over the edge-build subtree. Nothing
    # unpersists before the loop's single eager action, so laziness cannot
    # recompute the subtree across actions — at worst two concurrent
    # first-use stages race to fill the same cache blocks within that job.
    out = edges.groupBy("src").agg(F.count("*").alias("od"))
    esrc = edges.join(out, "src").persist()
    nodes = esrc.select(F.col("src").alias("node")).distinct().persist()

    ranks = nodes.withColumn("rank", F.lit(PR_SCALE).cast("bigint"))
    # The rounds COMPOSE LAZILY: for a fixed small iteration count there is
    # no data-dependent driver decision, so nothing forces per-round
    # materialization — each round's join reads the persisted edge cache,
    # and the whole nested plan executes exactly once at the final eager
    # checkpoint (3 joins + 3 aggregates total, zero intermediate cache
    # writes or count jobs).  An open-ended tolerance loop would need the
    # per-round persist + convergence-metric + lineage-checkpoint idiom —
    # that pattern lives in s26g (dedup.dup_clusters). The nodes⟕inc
    # re-attach join also restricts the result to the src-node set, so a
    # dangling dst never gets a rank row.
    for _ in range(PR_ITERS):
        inc = (
            esrc.join(ranks, esrc["src"] == ranks["node"])
            # Integral share: each neighbor receives floor(rank / od).
            .select(F.col("dst"), F.expr("rank div od").alias("c"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("inc"))
        )
        ranks = nodes.join(inc, "node", "left").select(
            "node",
            (
                F.lit(PR_BASE)
                + F.expr(
                    f"({PR_DAMP_PCT} * coalesce(inc, cast(0 as bigint)))"
                    " div 100"
                )
            ).alias("rank"),
        )
    # Hand back a localCheckpoint, NOT a persisted frame: consumers read
    # materialized blocks without re-running the loop, while nothing stays
    # registered with the CacheManager — a later rebuild of the same query
    # therefore re-executes from the source instead of silently matching
    # this build's cache by canonical plan (the spill() rationale in
    # dedup.py, where every build also writes its spills afresh).  All
    # loop-scoped persists are released before returning.
    result = ranks.localCheckpoint(eager=True)
    esrc.unpersist()
    nodes.unpersist()
    return result


def _pagerank_oracle_sql() -> str:
    """Unroll PR_ITERS fixed-point rounds as CTEs (same arithmetic)."""
    ctes = [
        # Purchase graph: customer ⟷ supplier, connected when a supplier's
        # line item appears on the customer's order. Keys are disjoint by
        # parity (2k vs 2k+1), so the union can't alias nodes.
        """base AS (
          SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )""",
        "edges AS (SELECT src, dst FROM base"
        " UNION SELECT dst, src FROM base)",
        "outd AS (SELECT src AS node, COUNT(*) AS od FROM edges GROUP BY 1)",
        f"r0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS rank FROM outd)",
    ]
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        ctes.append(
            f"""c{i} AS (
              SELECT e.dst AS node, SUM(r.rank // o.od) AS inc
              FROM edges e
              JOIN {prev} r ON r.node = e.src
              JOIN outd o ON o.node = e.src
              GROUP BY 1
            )"""
        )
        ctes.append(
            f"""r{i} AS (
              SELECT n.node,
                     {PR_BASE} + ({PR_DAMP_PCT} * COALESCE(c.inc, 0)) // 100
                       AS rank
              FROM outd n LEFT JOIN c{i} c ON c.node = n.node
            )"""
        )
        prev = f"r{i}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, CAST(rank AS BIGINT) AS rank FROM {prev}"
    )


@register(
    "s24g_pagerank",
    oracle=_pagerank_oracle_sql(),
    doc=f"Fixed-point PageRank ({PR_ITERS} rounds, d=0.{PR_DAMP_PCT}, ranks "
        f"scaled by {PR_SCALE}) over the bipartite customer⟷supplier "
        "purchase graph. Integer share/damping arithmetic makes every "
        "round associative and engine-exact, so the iterative loop itself "
        "is hash-checked against a CTE-unrolled oracle — per-iteration "
        "cost is one pre-keyed hash join plus one dst aggregate over a "
        "persisted (src,dst,od) edge list; rank state is |nodes|-sized.",
    tags=("events", "graph", "iterative"),
)
def s24g_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    base = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # Both directions via ONE explode pass (the dup_clusters r15 idiom)
    # instead of a union reading `base` twice: ReuseExchange already
    # dedupes the distinct's shuffle, but each union leg re-ran the
    # post-exchange distinct aggregate — and pagerank()'s two edge
    # consumers (join stream side + out-degree build side) doubled that
    # again, so the union spelling executed the distinct aggregate four
    # times per build vs two now. Local effect is small (~2 % on the
    # floor, 4/5 interleaved pairs); the removed passes are O(edges) at
    # any scale. Edge SET is identical, so the CTE oracle is unchanged.
    edges = (
        base.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
    )
    return pagerank(edges)
