"""Focused pins for the r15 fan_out() optimization (operators/dedup.py).

fan_out changed internals this round: the repartition became conditional
(wide inputs pass through untouched — a user repartition is NOT removed
by AQE, so at corpus scale it was a full payload shuffle for zero gain)
and keyed (hash on the unique doc_id instead of keyless round-robin,
which pays a whole-payload local sort for retry determinism —
sortBeforeRepartition). These tests pin all three behaviors so a later
refactor can't silently regress them back.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from xgboost_ray_spark.catalog import load_table
from xgboost_ray_spark.operators.dedup import fan_out
from xgboost_ray_spark.plans.explain import formatted_plan


def test_fan_out_spreads_undersplit_input_by_doc_id_hash(spark):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    assert docs.rdd.getNumPartitions() == 1  # single parquet split
    spread = fan_out(docs)
    target = spark.sparkContext.defaultParallelism
    assert spread.rdd.getNumPartitions() == target
    plan = formatted_plan(spread)
    # Keyed spread: hash of the unique doc_id, not keyless round-robin
    # (which would add a sortBeforeRepartition pass over the payload).
    assert "hashpartitioning(doc_id" in plan
    assert "roundrobin" not in plan.lower()


def test_fan_out_passes_through_already_wide_input(spark):
    target = spark.sparkContext.defaultParallelism
    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .repartition(target * 2, "doc_id")
    )
    spread = fan_out(docs)
    # Identity: no second exchange stacked on an input already split at
    # least as wide as the cluster parallelism.
    assert spread is docs


def test_fan_out_falls_back_to_round_robin_without_doc_id(spark):
    target = spark.sparkContext.defaultParallelism
    frame = load_table(spark, SF_SMOKE, "documents").select(
        F.col("text").alias("payload")
    )
    assert frame.rdd.getNumPartitions() == 1
    spread = fan_out(frame)
    assert spread.rdd.getNumPartitions() == target
    assert "roundrobin" in formatted_plan(spread).lower()


def test_fan_out_keyed_spread_loses_no_rows(spark):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    assert fan_out(docs).count() == docs.count()
