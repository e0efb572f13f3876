"""Incremental snapshot maintenance — the CDC day-cycle over orders.

The reference engine never mutates its inputs (xgboost_ray only reads;
matrix.py has no write path), but a production training-data pipeline
re-materializes its source snapshots every day. This example composes the
CDC registry kernels (s06c merge shape, s09g partial-agg maintenance)
into that cycle and PROVES the incremental path equals recomputation:

  1. day-0 snapshot: orders before the cutoff, persisted to parquet,
     plus a stored per-priority aggregate partial (count + decimal sum).
  2. a day's CDC feed: the next week of orders as upserts, with every
     10th key a delete.
  3. MERGE: one full-outer join on the key — change rows win, deletes
     drop, unmatched base rows carry forward (s06c shape).
  4. incremental aggregate maintenance WITH RETRACTION: the stored
     partial is advanced by (new - old) per group — updates retract
     their old contribution, deletes retract entirely, inserts add.
     No rescan of the base snapshot ever happens (s09g shape, extended
     to the update/delete case).
  5. the maintained partial is asserted EQUAL to a full recompute over
     the merged snapshot — exact, because sums accumulate in DECIMAL.

At 100 TB: the merge is one keyed shuffle (zero with a bucketed-by-key
snapshot), the feed aggregates are delta-sized, and the stored partial
is a few KB — the day's cost never touches the base's bulk.

Run: python examples/incremental_snapshot.py [--sf-dir /root/testdata/sf0.001]
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import argparse

from pyspark.sql import functions as F

from xgboost_ray_spark.catalog import load_table, scratch_path
from xgboost_ray_spark.registry import dsum
from xgboost_ray_spark.session import get_spark

CUTOFF = "2000-01-01"
FEED_END = "2000-01-08"
DEC = "decimal(28,6)"


def partial_agg(df):
    """Algebraic partial: per-priority count + exact decimal sum."""
    return df.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast(DEC)).alias("total"),
    )


def main(sf_dir: str = "/root/testdata/sf0.001") -> dict:
    spark = get_spark(app_name="example-incremental-snapshot")
    scratch = scratch_path("incr_snapshot")

    cutoff = F.lit(CUTOFF).cast("timestamp")
    feed_end = F.lit(FEED_END).cast("timestamp")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"
    )

    # 1. Day-0 snapshot + stored aggregate partial.
    snap_path = os.path.join(scratch, "snapshot_v0")
    day0 = orders.filter(F.col("o_orderdate") < cutoff).drop("o_orderdate")
    day0.write.parquet(snap_path)
    base = spark.read.parquet(snap_path)
    stored_partial = partial_agg(base).collect()  # "few KB" — a real job
    # would write this to a table; collect keeps the example observable.

    # 2. The day's CDC feed: next week's orders as INSERTS (keys disjoint
    # from base — o_orderkey is unique), PLUS genuine changes to BASE
    # keys so the retraction path is actually exercised: every 7th base
    # key arrives as an update (+100.00, and every other one also moves
    # to a different priority group) or as a delete. Without the base
    # overlap the retract/delete branches would run on provably empty
    # sets and the equality assert below would prove nothing.
    inserts = (
        orders.filter(
            (F.col("o_orderdate") >= cutoff) & (F.col("o_orderdate") < feed_end)
        )
        .drop("o_orderdate")
        .withColumn("op", F.lit("U"))
    )
    base_changes = (
        base.filter(F.col("o_orderkey") % 7 == 3)
        .withColumn(
            "op",
            F.when(F.col("o_orderkey") % 21 == 3, F.lit("D")).otherwise(
                F.lit("U")
            ),
        )
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("op") == "U", F.col("o_totalprice") + 100.0
            ).otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderpriority",
            F.when(
                (F.col("op") == "U") & (F.col("o_orderkey") % 14 == 3),
                F.lit("1-URGENT"),  # cross-group move: retract from old
            ).otherwise(F.col("o_orderpriority")),
        )
    )
    feed = inserts.unionByName(base_changes)

    # 3. MERGE: full-outer on the key; change rows win, deletes drop out.
    ch = feed.select(
        F.col("o_orderkey"),
        F.col("o_orderpriority").alias("c_priority"),
        F.col("o_totalprice").alias("c_totalprice"),
        "op",
    )
    merged = (
        base.join(ch, "o_orderkey", "full_outer")
        .where(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            "o_orderkey",
            F.coalesce("c_priority", "o_orderpriority").alias("o_orderpriority"),
            F.coalesce("c_totalprice", "o_totalprice").alias("o_totalprice"),
        )
    )

    # 4. Incremental maintenance with retraction: join the feed to the
    # base to learn each changed key's OLD contribution; advance the
    # stored partial by (new - old) per group. Delta-sized work only.
    old = base.withColumnRenamed("o_orderpriority", "b_priority").withColumnRenamed(
        "o_totalprice", "b_totalprice"
    )
    eff = ch.join(old, "o_orderkey", "left_outer")
    retract = eff.filter(F.col("b_priority").isNotNull()).select(
        F.col("b_priority").alias("o_orderpriority"),
        F.lit(-1).alias("dn"),
        (-F.col("b_totalprice")).alias("dv"),
    )
    add = eff.filter(F.col("op") != "D").select(
        F.col("c_priority").alias("o_orderpriority"),
        F.lit(1).alias("dn"),
        F.col("c_totalprice").alias("dv"),
    )
    delta = (
        retract.unionByName(add)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("dn").alias("n"),
            F.sum(F.col("dv").cast(DEC)).alias("total"),
        )
        .collect()
    )
    maintained = {
        r["o_orderpriority"]: [r["n"], r["total"]] for r in stored_partial
    }
    for r in delta:
        cur = maintained.setdefault(r["o_orderpriority"], [0, 0])
        cur[0] += r["n"]
        cur[1] = (cur[1] or 0) + (r["total"] or 0)
    maintained = {k: (n, t) for k, (n, t) in maintained.items() if n > 0}

    # 5. Proof: the maintained partial == full recompute over the merge.
    # Guard against vacuity first — the retraction/delete branches must
    # have processed real rows, or the equality would prove nothing.
    n_retracts = retract.count()
    n_deletes = feed.filter(F.col("op") == "D").count()
    assert n_retracts > 0, "retraction branch ran on an empty set"
    assert n_deletes > 0, "delete branch ran on an empty set"
    recomputed = {
        r["o_orderpriority"]: (r["n"], r["total"])
        for r in partial_agg(merged).collect()
    }
    assert maintained == recomputed, (maintained, recomputed)

    summary = {
        "base_rows": base.count(),
        "merged_rows": merged.count(),
        "groups": len(recomputed),
        "retracted": n_retracts,
        "deleted": n_deletes,
    }
    print(summary)
    return summary


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    main(ap.parse_args().sf_dir)
