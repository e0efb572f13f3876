"""Config-perturbation determinism sweep.

Every oracle-checked query is supposed to be a pure function of its input
tables — independent of partition counts, adaptive execution, or codegen.
Violations are exactly the bug class that passes a fixed-config oracle
comparison and then flakes on a real cluster (where AQE coalesces
differently and shuffle widths differ per deployment): window ties broken
by arrival order, per-partition sampling, accumulation-order-sensitive
floats.

This sweep re-runs the layout-risky registry entries under three
perturbed session configs and asserts bit-identical results against the
default-config baseline. Spark-vs-Spark (not DuckDB), so it composes
with — rather than repeats — the oracle suite.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from tests.oracle_utils import normalize_frame
from xgboost_ray_spark import registry as registry_mod
from xgboost_ray_spark.registry import all_queries

# Entries whose plans involve windows without obviously-total orders,
# sampling, pair generation, iterative propagation, ANN candidate cuts,
# packing, or float accumulation — the shapes where layout sensitivity
# hides. Cheap (sf0.001) and batch-only.
RISKY = [
    "s05b_salted_join",
    "s09c_salted_agg",
    "s09e_quantile_filter",
    "s10_count_distinct",
    "s13_window_rank",
    "s14_window_analytic",
    "s14e_gaps_islands",
    "s16_topk_per_group",
    "s24b_sessionization",
    "s24g_pagerank",
    "s26b_minhash_lsh",
    "s26c_simhash",
    "s26d_ngram_jaccard",
    "s26e_hamming_pairs",
    "s26g_dup_clusters",
    "s26l_prefix_filter_join",
    "s27_cosine_topk",
    "s27b_lsh_topk",
    "s27d_ivf_topk",
    "s27i_quantized_topk",
    "s27j_kmeans",
    "s28e_tfidf_top_terms",
    "s28l_unigram_logprob",
    "s29g_udtf_token_runs",
    "s30d_linear_model_score",
    "s30e_cv_ols",
    "s30f_learning_curve",
    "s31_hash_split",
    "s31f_weighted_sample",
    "s31h_quantile_bins",
    "s33_sequence_pack",
    "s33b_chunk_overlap",
    # r7-window first-timers with layout-sensitive shapes (added when the
    # r7 rotation put them in front of the driver): kNN candidate cuts +
    # vote ties, float centroid accumulation, windowed RMS accumulation,
    # partition-wise mapInArrow, sorted-neighborhood ties, latest-record
    # CDC window ties.
    "s27e_knn_classify",
    "s27f_label_centroids",
    "s29f_audio_window_rms",
    "s29i_map_in_arrow",
    "s26j_fuzzy_snm",
    "s06c_cdc_upsert",
    # r9-window first-timers with order-sensitive shapes (same convention,
    # added when the r9 rotation put them in front of the driver): mixture
    # oversampling's ordered row_number window; the drift report's float
    # PSI sum over per-bin terms (partial-agg order varies with layout;
    # round(8) must absorb it).
    "s31d_domain_mixture",
    "s32c_drift_report",
]

# (conf, perturbed value, restore-to-default value is read per test)
PERTURBATIONS = [
    ("spark.sql.shuffle.partitions", "5"),
    ("spark.sql.adaptive.enabled", "false"),
    ("spark.sql.codegen.wholeStage", "false"),
]


def test_perturbation_survives_prepare_session(spark):
    """Regression guard for the silent un-perturbation this sweep once
    had: build() -> prepare_session() force-resets every _RUNTIME_CONF
    key, so setting spark.conf alone left the AQE leg comparing baseline
    against baseline. With the dict patched (as the sweep now does), the
    perturbed value must still be in force AFTER a registered build."""
    conf = "spark.sql.adaptive.enabled"
    assert conf in registry_mod._RUNTIME_CONF  # else the patch is moot
    saved = registry_mod._RUNTIME_CONF[conf]
    default = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    registry_mod._RUNTIME_CONF[conf] = "false"
    try:
        all_queries()["s04_filter"].build(spark, SF_SMOKE).count()
        assert spark.conf.get(conf) == "false", (
            "prepare_session un-perturbed the session conf mid-sweep"
        )
    finally:
        registry_mod._RUNTIME_CONF[conf] = saved
        spark.conf.set(conf, default)


@pytest.mark.parametrize("name", RISKY)
def test_result_invariant_under_config_perturbation(spark, name):
    spec = all_queries()[name]

    def run():
        # Every build re-runs its spill producers (fresh scratch paths), so
        # each perturbed rebuild exercises the producer subtree too.
        return normalize_frame(spec.build(spark, SF_SMOKE).toPandas())

    baseline = run()
    assert baseline, f"{name} returned no rows at {SF_SMOKE}"
    for conf, value in PERTURBATIONS:
        default = spark.conf.get(conf)
        spark.conf.set(conf, value)
        # build() -> prepare_session() force-resets every _RUNTIME_CONF key
        # on EVERY build, which silently un-perturbed the AQE leg (the conf
        # went back to "true" before the plan was constructed, so that leg
        # compared baseline against baseline). Patch the dict for the
        # duration so prepare_session enforces the PERTURBED value.
        patched = conf in registry_mod._RUNTIME_CONF
        if patched:
            saved_runtime = registry_mod._RUNTIME_CONF[conf]
            registry_mod._RUNTIME_CONF[conf] = value
        try:
            perturbed = run()
        finally:
            spark.conf.set(conf, default)
            if patched:
                registry_mod._RUNTIME_CONF[conf] = saved_runtime
        assert perturbed == baseline, (
            f"{name} changed results under {conf}={value}: "
            f"{len(perturbed)} vs {len(baseline)} rows; first diff: "
            f"{next((a, b) for a, b in zip(perturbed, baseline) if a != b) if len(perturbed) == len(baseline) else 'row-count'}"
        )
