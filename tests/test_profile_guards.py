"""Failure-mode guards for the profiling kernels.

The integer 3-sigma predicate (``exact_outlier_flags``) is exact only
while its cross-multiplied terms fit DECIMAL(38,0). Past that bound the
two engines used to diverge in failure MODE: DuckDB's HUGEINT errors
loudly while Spark's non-ANSI decimal yields NULL — which made the
comparison false and silently unflagged real outliers. These tests pin
the fix: in-range inputs still produce the exact mask, and overflow now
raises on the Spark side too (fails closed, matching the oracle).
"""

from __future__ import annotations

import pytest

from xgboost_ray_spark.operators.profile import exact_outlier_flags


def test_outlier_flags_exact_in_range(spark):
    # Max attainable z-score in a group is (n-1)/sqrt(n), so a single
    # spike needs n >= 11 to clear 3 sigma: 12 zeros + one 1000 gives
    # z = 923/277 = 3.33.
    rows = [("g", 0)] * 12 + [("g", 1000)]
    df = spark.createDataFrame(rows, "grp string, v long")
    got = {
        (r.v, r.is_outlier)
        for r in exact_outlier_flags(df, "grp", "v").collect()
    }
    assert (1000, True) in got
    assert (0, False) in got


def test_outlier_flags_overflow_raises_not_silently_unflags(spark):
    # dev = n*v - s1 = 3*5e18 - 5e18 = 1e19; dev^2 = 1e38 overflows
    # DECIMAL(38,0) (max 1e38 - 1). Must raise in BOTH session modes, not
    # return is_outlier False/NULL:
    #   * ANSI on (Spark 4 default): Spark's own decimal-overflow error;
    #   * ANSI off (legacy sessions): overflow yields NULL, and the
    #     kernel's explicit guard converts that to a loud raise_error —
    #     the mode the DuckDB oracle divergence was about.
    big = 5 * 10**18
    rows = [("g", big), ("g", -big), ("g", big)]
    df = spark.createDataFrame(rows, "grp string, v long")
    with pytest.raises(Exception, match="overflow|OUT_OF_RANGE|OVERFLOW"):
        exact_outlier_flags(df, "grp", "v").collect()
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(Exception, match="DECIMAL\\(38,0\\) overflow"):
            exact_outlier_flags(df, "grp", "v").collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_outlier_flags_null_values_do_not_trip_the_guard(spark):
    # NULL inputs legitimately produce NULL predicate sides; the overflow
    # guard must not mistake them for overflow.
    rows = [("g", 0)] * 12 + [("g", 1000), ("g", None)]
    df = spark.createDataFrame(rows, "grp string, v long")
    out = exact_outlier_flags(df, "grp", "v")
    flags = {r.v: r.is_outlier for r in out.collect()}
    assert flags[None] is None
    assert flags[1000] is True


def test_outlier_flags_n_counts_only_non_null_values(spark):
    """n must be COUNT(value), not COUNT(*): S1/S2 skip NULLs, so an
    inflated n computes wrong mean/stddev — group {0, 10, NULL x 98} has
    true stats over 2 values (z(10) ~= 0.71, NOT an outlier), but with
    n=100 the integer predicate flags 10 as a 3-sigma outlier."""
    rows = [("g", 0), ("g", 10)] + [("g", None)] * 98
    df = spark.createDataFrame(rows, "grp string, v long")
    flags = {
        r.v: r.is_outlier
        for r in exact_outlier_flags(df, "grp", "v").collect()
    }
    assert flags[10] is False
    assert flags[0] is False


def test_s32b_empty_snapshot_reports_zero_not_null(spark, tmp_path):
    """Admission-gate degenerate case (round-5 ADVICE): an EMPTY snapshot
    must report n_violations = 0 for every check, matching the oracle's
    scalar COUNT(*) subqueries — SUM(CASE WHEN ...) alone yields NULL over
    an empty frame."""
    from xgboost_ray_spark.catalog import load_table
    from xgboost_ray_spark.registry import all_queries

    sf = "/root/testdata/sf0.001"
    for t in ("orders", "lineitem"):
        load_table(spark, sf, t).limit(0).write.parquet(
            str(tmp_path / f"{t}.parquet")
        )
    out = all_queries()["s32b_data_quality"].build(spark, str(tmp_path))
    got = {r.check_name: r.n_violations for r in out.collect()}
    assert len(got) == 5
    assert all(v == 0 for v in got.values()), got

