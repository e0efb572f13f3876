"""Query registry: one entry per declared operator (SURVEY.md §2.2).

Each :class:`QuerySpec` pairs a Spark DataFrame builder with the equivalent
ANSI-SQL oracle string for DuckDB.  The driver (and ``tests/test_oracle.py``)
runs both sides and compares row counts, schemas and order-insensitive value
hashes — so builders MUST alias every computed column to the same name the
oracle uses, and float arithmetic goes through :func:`dsum`-style
exact-decimal accumulation so both engines produce bit-identical doubles.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# The one runtime-settable conf table (same dict object, so a patch here
# is what prepare_session applies).
from xgboost_ray_spark.session import RUNTIME_CONF as _RUNTIME_CONF


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => driver records a weaker rows-only check
    doc: str = ""
    tags: tuple[str, ...] = ()


QUERIES: dict[str, QuerySpec] = {}

_SHIPPED_APPS: set[str] = set()

# Confs whose absence silently CORRUPTS results (timestamps shifted off
# UTC, oracle divergence) rather than degrading performance — failing to
# set one of these must be loud, not swallowed. The events timestamp
# storage needs no conf: catalog.normalize_event_ts rejects a ``ts`` that
# is not a TIMESTAMP.
_CRITICAL_CONFS = frozenset({"spark.sql.session.timeZone"})


def set_runtime_conf(spark: SparkSession, key: str, value: str) -> None:
    """Set a runtime conf; warn if restricted, raise if correctness-critical.

    A deployment that forbids conf changes is fine for the performance confs
    (AQE, pushdown — the query still returns correct rows), but a session
    stuck on the wrong timezone would return silently wrong results; that
    must fail loudly. Already-correct values never fail.
    """
    try:
        spark.conf.set(key, value)
    except Exception as exc:
        try:
            current = spark.conf.get(key, None)
        except Exception:
            current = None
        if current == value:
            return  # restricted but already correct
        if key in _CRITICAL_CONFS:
            raise RuntimeError(
                f"cannot set correctness-critical conf {key}={value!r} "
                f"(current: {current!r}): results would silently diverge"
            ) from exc
        import warnings

        warnings.warn(
            f"could not set {key}={value!r} (current: {current!r}): {exc}",
            RuntimeWarning,
            stacklevel=2,
        )


# applicationId -> the _RUNTIME_CONF snapshot last applied to it. Keyed
# on the SNAPSHOT, not a boolean: the determinism sweep perturbs builds
# by patching _RUNTIME_CONF (test_perturbation_survives_prepare_session),
# so a changed dict must re-apply while the steady state skips the ~10
# spark.conf.set py4j round-trips every registered build otherwise pays.
_PREPARED_APPS: dict[str, tuple] = {}


def prepare_session(spark: SparkSession) -> None:
    """Apply runtime-settable engine confs to an externally built session
    (once per session per _RUNTIME_CONF state — see _PREPARED_APPS)."""
    snap = tuple(sorted(_RUNTIME_CONF.items()))
    app = spark.sparkContext.applicationId
    if _PREPARED_APPS.get(app) != snap:
        for k, v in _RUNTIME_CONF.items():
            set_runtime_conf(spark, k, v)
        _PREPARED_APPS[app] = snap
    # GC spill dirs from finished sessions (no-op after the first call).
    from xgboost_ray_spark.catalog import sweep_scratch

    sweep_scratch()


@functools.cache
def _package_zip() -> str:
    """This package's ``.py`` files zipped once per process to a fresh
    ``catalog.scratch_path``, removed with the scratch root at exit. A
    write cut short leaves a partial zip at a path nothing reuses: the
    cache only holds a path whose write finished."""
    import os
    import zipfile

    from xgboost_ray_spark.catalog import scratch_path

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = scratch_path("pyfiles") + ".zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fname in files:
                if fname.endswith(".py"):
                    full = os.path.join(root, fname)
                    rel = os.path.relpath(full, pkg_dir)
                    zf.write(full, os.path.join("xgboost_ray_spark", rel))
    return zpath


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship this package to Python workers via ``addPyFile``.

    Operators built on mapInPandas/applyInPandas reference module-level
    functions, which cloudpickle serializes *by reference* — the worker must
    be able to ``import xgboost_ray_spark`` regardless of the driver
    process's cwd/sys.path. On a real cluster this is exactly how the
    package deploys (py-files); in local mode it is a no-op-cost guard.
    A session restarted in the same process ships the same zip again.
    """
    sc = spark.sparkContext
    app = sc.applicationId
    if app in _SHIPPED_APPS:
        return
    sc.addPyFile(_package_zip())
    _SHIPPED_APPS.add(app)


def register(name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def _wrap(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")

        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            prepare_session(spark)
            ensure_workers_can_import(spark)
            return fn(spark, sf_dir)

        build.__name__ = fn.__name__
        build.__doc__ = fn.__doc__
        QUERIES[name] = QuerySpec(
            name=name, build=build, oracle=oracle, doc=doc, tags=tags
        )
        return fn

    return _wrap


# ---------------------------------------------------------------------------
# Cross-engine numeric stability helpers
#
# SUM over doubles is order-dependent; Spark and DuckDB would differ in the
# last ulps and break value-hash comparison.  Accumulating in DECIMAL is
# exact and associative, so both engines agree bit-for-bit, and the final
# decimal -> double cast is correctly-rounded-nearest in both.
#
# Deliberately NO final round(): engine ROUND(double) disagrees across
# engines at decimal midpoints (Spark rounds the double's shortest decimal
# repr, DuckDB the true binary value), and money data (2-decimal inputs,
# <=6-decimal products) lands on exact midpoints. Casting the expression to
# DECIMAL(28,6) is exact for this data, so no rounding step is needed at
# all. round() remains fine for genuinely continuous values
# (transcendentals, cosine sims) where midpoints have measure zero.
# ---------------------------------------------------------------------------

DEC = "decimal(28,6)"


def dsum(col: Column, alias: str) -> Column:
    """Exact decimal SUM -> double (no rounding; see note above)."""
    return F.sum(col.cast(DEC)).cast("double").alias(alias)


def davg(col: Column, alias: str) -> Column:
    """Exact decimal SUM -> double, / COUNT (IEEE division is identical
    across engines given identical operands)."""
    total = F.sum(col.cast(DEC)).cast("double")
    return (total / F.count(col)).alias(alias)


def sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(28,6))) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(28,6))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )


# ---------------------------------------------------------------------------
# Driver presentation order.
#
# The driver's correctness sweep checks the FIRST 50 entries of ``queries()``
# in iteration order, so the order below is chosen — not incidental:
#   * slots 1-50 always contain one CANONICAL entry per S-op family
#     (s01..s33, SURVEY.md §2.2), so every family gets a driver-verified row
#     every round;
#   * the other 17 slots ROTATE each round toward entries the driver has
#     never hashed, retiring the verification backlog (~17/round);
#   * within the window, entries are roughly cost-ordered (sf0.01 wall time
#     via scripts/driver_sim.py), heavy entries late, so a time-bounded
#     sweep still covers most families; s03 leads so the cheapest query
#     absorbs JVM warmup;
#   * every entry, in the window or not, stays covered by
#     tests/test_oracle.py and scripts/driver_sim.py.
#
# Entries registered but not listed here (newly added operators) append at
# the end in registration order, never displacing the curated window.
# ---------------------------------------------------------------------------
_DRIVER_ORDER = [
    # -- slots 1-50 -----------------------------------------------------
    "s03_projection", "s11e_unpivot", "s26_dedup_exact", "s01_parquet_scan",
    "s31e_temporal_split", "s28k_class_entropy", "s24b_sessionization",
    "s26f_canonical_dedup", "s31d_domain_mixture", "s32c_drift_report",
    "s21_conditional", "s31g_negative_pairs", "s19_date_funcs",
    "s24e_retention_cohorts", "s04_filter", "s07_semi_anti_join",
    "s06_outer_join", "s09_groupby_agg", "s15_sort_limit",
    "s22_array_funcs", "s09d_argmax", "s05c_tpch_q3", "s05_inner_join",
    "s14_window_analytic", "s31_hash_split", "s24_tumbling_window",
    "s05b_salted_join", "s02_csv_scan", "s16_topk_per_group",
    "s30c_linear_model_train", "s20_math_funcs", "s11c_grouping_sets",
    "s10_count_distinct", "s13_window_rank", "s27c_embedding_neardup",
    "s08_broadcast_join", "s23_json", "s05h_tpch_q9", "s32_profile",
    "s12_having", "s27h_embedding_quantize", "s33_sequence_pack",
    "s05f_tpch_q7", "s17_setops", "s27i_quantized_topk", "s28_token_stats",
    "s05g_tpch_q8", "s29_pandas_udf", "s25e_stream_dedup",
    "s18_string_funcs",
    # -- slots 51+: outside the window ---------------------------------
    "s14d_point_in_time", "s28i_bigram_counts", "s24f_user_sequences",
    "s24d_transition_counts", "s28j_feature_hash", "s14c_scd2_intervals",
    "s26c_simhash", "s28l_unigram_logprob", "s28g_repetition_score",
    "s26h_boilerplate_phrases", "s28e_tfidf_top_terms", "s26b_minhash_lsh",
    "s26e_hamming_pairs", "s26d_ngram_jaccard", "s26g_dup_clusters",
    "s25d_stateful_sessions", "s24g_pagerank", "s27j_kmeans",
    "s26l_prefix_filter_join", "s26j_fuzzy_snm", "s27e_knn_classify",
    "s27f_label_centroids", "s29j_unicode_normalize", "s29i_map_in_arrow",
    "s29h_grouped_agg_udaf", "s29f_audio_window_rms", "s01g_jsonl_scan",
    "s01b_orc_scan", "s01c_partition_pruning", "s01d_schema_evolution",
    "s01h_zorder_layout", "s01f_binaryfile_scan", "s01e_compaction",
    "s01i_dynamic_partition_pruning", "s04b_disjunctive_pushdown",
    "s07c_inactive_customers", "s07d_sole_fault_supplier",
    "s06d_outerjoin_histogram", "s06c_cdc_upsert", "s28h_pii_redact",
    "s27g_lsh_neardup_pairs", "s32b_data_quality", "s25b_stream_sliding",
    "s25c_stream_watermark_append", "s25f_stream_static_join",
    "s25j_stream_trending", "s25k_stream_session_window",
    "s30_gbt_train_predict", "s23c_variant", "s13b_distribution_ranks",
    "s31h_quantile_bins", "s32d_outlier_flags", "s26i_decontaminate",
    "s27_cosine_topk", "s27d_ivf_topk", "s30d_linear_model_score",
    "s30e_cv_ols", "s30f_learning_curve", "s26k_incremental_neardup",
    "s25h_file_sink_etl", "s25l_stream_outlier_guard",
    "s25g_stream_stream_join", "s25i_stream_cdc_upsert", "s22c_map_funcs",
    "s12b_having_join", "s16b_tpch_q15", "s29g_udtf_token_runs",
    "s07b_exists_subquery", "s09e_quantile_filter", "s09f_scalar_subquery",
    "s09g_incremental_agg", "s14e_gaps_islands", "s24c_funnel",
    "s21c_tpch_q12", "s05d_tpch_q5", "s05e_tpch_q10", "s27b_lsh_topk",
    "s25_stream_tumbling", "s15b_sort_nulls", "s22b_array_hof",
    "s21b_promo_revenue", "s33b_chunk_overlap", "s31b_stratified_sample",
    "s31c_group_sample", "s31f_weighted_sample", "s23b_from_json",
    "s28b_lang_id", "s28c_quality_score", "s28d_fingerprint",
    "s28f_regex_tokens", "s04c_tpch_q6", "s29c_grouped_map",
    "s29e_frame_sample", "s30b_ltr_rank", "s10c_distinct_rows",
    "s11_rollup", "s11b_cube", "s11d_pivot", "s06b_full_outer_join",
    "s09b_stats_agg", "s09c_salted_agg", "s10b_approx_count_distinct",
    "s14b_range_frame", "s08b_asof_join", "s08c_range_join",
    "s29b_multimodal_decode", "s29d_multimodal_resize",
]

# How many leading entries of queries() the driver's correctness sweep reads.
DRIVER_WINDOW = 50

# The 33 per-family canonicals pinned inside the window every round; the
# remaining DRIVER_WINDOW - 33 slots rotate toward never-driver-checked
# entries (scripts/rotate_window.py computes the next rotation from the
# CORRECTNESS_r*.json history).
CANONICAL_ENTRIES = (
    "s01_parquet_scan", "s02_csv_scan", "s03_projection", "s04_filter",
    "s05b_salted_join", "s06_outer_join", "s07_semi_anti_join",
    "s08_broadcast_join", "s09d_argmax", "s10_count_distinct",
    "s11c_grouping_sets", "s12_having", "s13_window_rank",
    "s14_window_analytic", "s15_sort_limit", "s16_topk_per_group",
    "s17_setops", "s18_string_funcs", "s19_date_funcs", "s20_math_funcs",
    "s21_conditional", "s22_array_funcs", "s23_json", "s24_tumbling_window",
    "s25e_stream_dedup", "s26f_canonical_dedup", "s27c_embedding_neardup",
    "s28_token_stats", "s29_pandas_udf", "s30c_linear_model_train",
    "s31_hash_split", "s32_profile", "s33_sequence_pack",
)


def all_queries() -> dict[str, QuerySpec]:
    """Import every operator module (triggering registration) and return the
    registry, ordered for the driver (see ``_DRIVER_ORDER``)."""
    # Imports live here (not module top) to avoid circulars: operator modules
    # import ``register`` from this module.
    from xgboost_ray_spark.operators import (  # noqa: F401
        cdc,
        dedup,
        graph,
        joins,
        multimodal,
        profile,
        relational,
        sampling,
        similarity,
        skew,
        text,
        udx,
        windows,
    )
    from xgboost_ray_spark import streaming as _streaming  # noqa: F401
    from xgboost_ray_spark.streaming import queries as _squeries  # noqa: F401
    from xgboost_ray_spark.ml import queries as _mlqueries  # noqa: F401

    ordered: dict[str, QuerySpec] = {}
    for name in _DRIVER_ORDER:
        if name in QUERIES:
            ordered[name] = QUERIES[name]
    for name, spec in QUERIES.items():  # new entries append after the window
        if name not in ordered:
            ordered[name] = spec
    return ordered
