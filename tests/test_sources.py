"""Source tests — the reference's per-source creation harness
(xgboost_ray tests/test_matrix.py:74-113: build from every source type,
load back, compare to the original). File formats are ``spark.read.*``;
the one package reader is ``from_numpy``."""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import SF_SMOKE
from xgboost_ray_spark.sources.readers import from_numpy


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


def test_orc_scan_pushes_filter_to_the_scan(spark):
    """s01b reads its ORC round trip back with the filter pushed into
    the ORC scan (spark.sql.orc.filterPushdown), not applied after a
    full read."""
    from xgboost_ray_spark.plans.explain import has_pushed_filters
    from xgboost_ray_spark.registry import all_queries

    df = all_queries()["s01b_orc_scan"].build(spark, SF_SMOKE)
    assert has_pushed_filters(df), "ORC scan must receive the filter"


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


def _load_events(spark, sf_dir):
    from xgboost_ray_spark.catalog import load_table

    return load_table(spark, sf_dir, "events")


def _stream_events(spark, sf_dir):
    from xgboost_ray_spark.streaming.windows import read_table_stream

    return read_table_stream(spark, sf_dir, "events")


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
