"""Catalog-wide physical-plan hygiene sweep.

The targeted audits in tests/test_plans.py pin ~40 specific plan shapes;
this sweep applies the blanket rules over the WHOLE batch catalog:

1. **Banned nodes** — no entry may plan a ``CartesianProduct`` (all-pairs
   blowup — the one join shape that cannot survive a 100 TB corpus) or a
   ``BatchEvalPython`` (row-at-a-time Python UDF — the slow path this
   engine bans in favor of Arrow-batched pandas UDFs / mapInArrow, which
   plan as ArrowEvalPython / FlatMapGroupsInPandas / MapInArrow nodes and
   are allowed). Both allowlists are EMPTY as of round 7 (sweep of all
   145 batch entries at sf0.001: zero hits). Adding an entry requires a
   written scale justification in SCALE.md — the s27c all-pairs demo, the
   one by-design near-quadratic plan, already avoids CartesianProduct by
   joining on a literal key bucket, so even it does not need a slot.

2. **Shuffle budget** — every ``groupBy``/``join``/``distinct``/
   ``repartition`` is a shuffle, and a shuffle added by accident is the
   single most expensive regression class at 100 TB (the SCALE.md global
   rule "minimize shuffles" — enforced here as a gate, not a review
   habit). Each entry's shuffle-``Exchange`` count is pinned at its
   round-9 measurement (bit-identical across two independent processes,
   2026-08-15; ``BroadcastExchange``/``ReusedExchange`` deliberately NOT
   counted — broadcasting a dim or reusing a stage is the cure, not the
   disease). A count above its pin means a refactor added a shuffle:
   either remove it or re-pin WITH a SCALE.md note explaining why the
   extra exchange is the right plan. A count below the pin is an
   improvement — re-pin it so the gate stays tight. New entries must
   declare a budget here at registration time.

Cost note: building every plan also materializes the dedup/ANN spill
fixtures, so the sweep is one of the slower fixtures in the suite
(~60-90 s at sf0.001 under the shared local[8] fixture). It replaces
290 would-be individual tests; both rules consume ONE module-scoped
sweep so the fixture builds amortize.
"""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_SMOKE
from xgboost_ray_spark.registry import all_queries

# Physical-plan node substrings that must not appear, mapped to the
# entries permitted to contain them (none today — see module docstring).
_BANNED_NODES: dict[str, frozenset[str]] = {
    "CartesianProduct": frozenset(),
    "BatchEvalPython": frozenset(),
}

# Shuffle exchanges in the PRE-execution physical plan (AQE initial plan —
# deterministic for fixed input/conf, unlike the runtime-coalesced final
# plan). Matches the four shuffle distributions; BroadcastExchange doesn't
# match (the (?<![A-Za-z]) guard rejects its "...Exchange" suffix).
_SHUFFLE_NODE = re.compile(
    r"(?<![A-Za-z])Exchange (hashpartitioning|rangepartitioning"
    r"|SinglePartition|RoundRobinPartitioning)"
)


def _count_shuffles(plan: str) -> int:
    """Shuffle-Exchange nodes, skipping ReusedExchange lines: a reuse
    node's plan line EMBEDS its child's full "Exchange hashpartitioning
    (...)" text ("ReusedExchange [...], Exchange hashpartitioning(...)"),
    which the lookbehind alone cannot reject — a raw findall would count
    the same physical shuffle twice. Stage reuse is the cure, not the
    disease, so reuse lines contribute zero. (Under the AQE-on test
    fixture the initial plan never prints ReusedExchange, but re-measures
    under perturbed confs — AQE off — would double-count without this.)"""
    return sum(
        len(_SHUFFLE_NODE.findall(line))
        for line in plan.splitlines()
        if "ReusedExchange" not in line
    )

# entry -> pinned shuffle-Exchange count (round-9 measurement; see module
# docstring for the re-pin rules). Zero-entries are design contracts:
# s27j's assignment is zero-shuffle by construction (centroid literals),
# s24g/s26g return localCheckpoint handbacks (iteration shuffles happen
# at build, behind the checkpoint), s15 plans TakeOrderedAndProject
# instead of a global sort.
_SHUFFLE_BUDGET: dict[str, int] = {
    "s03_projection": 0, "s28_token_stats": 0, "s15_sort_limit": 0,
    "s22_array_funcs": 0, "s21_conditional": 0, "s20_math_funcs": 0,
    "s19_date_funcs": 0, "s33_sequence_pack": 1, "s12_having": 1,
    "s31_hash_split": 1, "s16_topk_per_group": 1, "s31e_temporal_split": 1,
    "s31g_negative_pairs": 1, "s23_json": 1, "s18_string_funcs": 0,
    "s31d_domain_mixture": 1, "s28k_class_entropy": 0, "s32c_drift_report": 2,
    "s11c_grouping_sets": 1, "s24_tumbling_window": 1, "s01_parquet_scan": 0,
    "s09d_argmax": 1, "s26_dedup_exact": 1, "s05_inner_join": 1,
    "s30c_linear_model_train": 1, "s14_window_analytic": 1,
    "s07_semi_anti_join": 0,
    "s26f_canonical_dedup": 1, "s10_count_distinct": 2, "s26c_simhash": 1,
    "s13_window_rank": 1, "s17_setops": 3, "s02_csv_scan": 0,
    "s24b_sessionization": 1, "s27h_embedding_quantize": 1,
    "s08_broadcast_join": 1,
    "s04_filter": 0, "s27i_quantized_topk": 3,
    # s26b/s26c/s26e/s28e/s28g re-pinned DOWN in r15: fan_out now
    # hash-partitions on doc_id (not round-robin), so the first
    # downstream doc_id-keyed aggregation/window satisfies its
    # ClusteredDistribution from the fan-out exchange and elides its own
    # (guide §2.4 "two operations keyed the same way share one
    # exchange") — one fewer full-corpus shuffle per entry (two in s28g)
    # on top of the sort-before-repartition removal the keyed spread
    # already bought (OPTIMIZATION_r15.md).
    "s26b_minhash_lsh": 3,
    "s27c_embedding_neardup": 0, "s06_outer_join": 1, "s05c_tpch_q3": 1,
    "s09_groupby_agg": 1, "s29_pandas_udf": 0, "s32_profile": 3,
    "s05b_salted_join": 1, "s27j_kmeans": 0, "s05h_tpch_q9": 1,
    # s26l re-pinned 6 -> 1 in r15: the prefix ranking and token-array
    # tables are spilled once and self-joined as plain scans, so the only
    # shuffle left in the returned plan is the pair aggregate (the five
    # removed exchanges moved into the three build-time producer jobs,
    # each of which now runs ONCE instead of per self-join side —
    # OPTIMIZATION_r15.md, plans/r15/s26l_prefix_filter_join_{before,after}.txt).
    "s26l_prefix_filter_join": 1, "s01b_orc_scan": 0,
    "s01c_partition_pruning": 0,
    "s01d_schema_evolution": 0, "s01e_compaction": 0,
    "s01f_binaryfile_scan": 0,
    "s01g_jsonl_scan": 0, "s01h_zorder_layout": 0,
    "s01i_dynamic_partition_pruning": 1,
    "s05f_tpch_q7": 1, "s05g_tpch_q8": 3, "s14c_scd2_intervals": 1,
    "s14d_point_in_time": 1, "s24d_transition_counts": 3,
    "s24e_retention_cohorts": 3,
    "s24f_user_sequences": 1, "s28i_bigram_counts": 1, "s28j_feature_hash": 2,
    "s04b_disjunctive_pushdown": 1, "s06c_cdc_upsert": 2,
    "s06d_outerjoin_histogram": 2,
    "s07c_inactive_customers": 2, "s07d_sole_fault_supplier": 1,
    "s26j_fuzzy_snm": 1,
    "s27e_knn_classify": 1, "s27f_label_centroids": 1,
    "s29f_audio_window_rms": 0,
    "s29h_grouped_agg_udaf": 1, "s29i_map_in_arrow": 0,
    "s29j_unicode_normalize": 0,
    "s28h_pii_redact": 0, "s27_cosine_topk": 1, "s28l_unigram_logprob": 4,
    "s23c_variant": 1, "s26h_boilerplate_phrases": 2, "s26i_decontaminate": 4,
    "s32b_data_quality": 2, "s27d_ivf_topk": 3, "s27g_lsh_neardup_pairs": 4,
    "s28e_tfidf_top_terms": 4, "s26k_incremental_neardup": 3,
    "s30_gbt_train_predict": 1,
    "s13b_distribution_ranks": 1, "s09g_incremental_agg": 2,
    "s21c_tpch_q12": 1,
    "s31h_quantile_bins": 1, "s16b_tpch_q15": 3, "s32d_outlier_flags": 1,
    "s05e_tpch_q10": 1, "s30d_linear_model_score": 2, "s05d_tpch_q5": 3,
    "s30f_learning_curve": 3, "s09f_scalar_subquery": 2, "s30e_cv_ols": 3,
    "s24g_pagerank": 0, "s31f_weighted_sample": 0, "s09e_quantile_filter": 2,
    "s04c_tpch_q6": 1, "s14e_gaps_islands": 2, "s33b_chunk_overlap": 0,
    "s07b_exists_subquery": 1, "s21b_promo_revenue": 1, "s22c_map_funcs": 2,
    "s29g_udtf_token_runs": 0, "s12b_having_join": 1, "s24c_funnel": 2,
    "s28g_repetition_score": 1, "s27b_lsh_topk": 1, "s26e_hamming_pairs": 3,
    "s30b_ltr_rank": 2, "s15b_sort_nulls": 0, "s28d_fingerprint": 0,
    "s22b_array_hof": 0, "s14b_range_frame": 1, "s31b_stratified_sample": 0,
    "s28f_regex_tokens": 0, "s28c_quality_score": 0, "s11e_unpivot": 0,
    "s28b_lang_id": 0, "s23b_from_json": 0, "s10c_distinct_rows": 1,
    "s11d_pivot": 2, "s29e_frame_sample": 0, "s09c_salted_agg": 2,
    "s06b_full_outer_join": 2, "s29c_grouped_map": 1, "s31c_group_sample": 1,
    "s10b_approx_count_distinct": 1, "s11_rollup": 1, "s11b_cube": 1,
    "s09b_stats_agg": 1, "s08b_asof_join": 1, "s29d_multimodal_resize": 0,
    "s26d_ngram_jaccard": 3, "s29b_multimodal_decode": 0, "s08c_range_join": 1,
    "s26g_dup_clusters": 0,
}


# Entries allowed to plan BroadcastNestedLoopJoin, with the audited
# occurrence count. BNLJ is what EVERY condition-less join plans —
# ``crossJoin``, a bare ``.join()`` with no key, SQL ``CROSS JOIN`` —
# so this runtime gate catches the all-pairs class uniformly no matter
# how the join is spelled (the static audit in test_driver_surface.py
# can only see the ``.crossJoin`` spelling; a keyless ``.join`` is
# indistinguishable from ``str.join`` in an AST). Every audited site
# joins a broadcast ONE-ROW scalar frame (corpus counts, embedding
# stats, quantile thresholds, the profile branches) — nested-loop over
# one row is a map-side attach, not a blowup. A new BNLJ anywhere else
# is presumed an accidental cartesian until audited here.
_BNLJ_ALLOWED: dict[str, int] = {
    "s07c_inactive_customers": 1,
    "s09e_quantile_filter": 1,
    "s27_cosine_topk": 1,
    "s27c_embedding_neardup": 1,
    "s27d_ivf_topk": 2,
    "s27e_knn_classify": 1,
    "s27h_embedding_quantize": 1,
    "s27i_quantized_topk": 1,
    "s28e_tfidf_top_terms": 1,
    "s28l_unigram_logprob": 1,
    "s31g_negative_pairs": 1,
    "s32_profile": 1,
    "s32b_data_quality": 1,
}


# Entries allowed to plan SortAggregate, with their audited occurrence
# count. The round-8 profile defect made this a named degradation class:
# a min/max or collect buffer that is not UnsafeRow-mutable (strings,
# structs) silently downgrades its ENTIRE aggregation stage — including
# any count-DISTINCT Expand multiplying rows k-fold — from hash- to
# sort-based, which at 100 TB means a per-partition sort of the fact
# table where a hash table should be. The three audited survivors are
# deliberate: s09d and s27e use the struct-argmax pattern (the partial
# still combines map-side; the sort runs over the low-cardinality group
# key only — measured 0.34 s at sf0.1 for s09d), and s32_profile's
# min/max branch is GROUPING-FREE (zero sort keys = no sort; the
# hash-sensitive distinct branch was split off in round 8 precisely to
# keep it out of this list). A new SortAggregate anywhere else is
# presumed to be this defect class until measured and justified here.
_SORT_AGG_ALLOWED: dict[str, int] = {
    "s09d_argmax": 2,  # partial + final over the struct buffer
    "s27e_knn_classify": 2,  # same struct-argmax vote tiebreak
    "s32_profile": 2,  # grouping-free min/max branch (partial + final)
}


@pytest.fixture(scope="module")
def catalog_plans(spark) -> dict[str, str]:
    """One build + executedPlan string per batch entry (shared by both
    hygiene rules so the expensive fixture builds run once)."""
    plans: dict[str, str] = {}
    errors: dict[str, str] = {}
    for name, spec in all_queries().items():
        if "streaming" in spec.tags:
            continue  # unbounded plans need a started query; covered by
            # test_streaming.py's per-entry progress checks instead.
        try:
            df = spec.build(spark, SF_SMOKE)
            plans[name] = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # a build error is itself a failure
            errors[name] = repr(exc)[:200]
    assert not errors, f"catalog entries failed to build: {errors}"
    assert len(plans) >= 140, f"sweep shrank unexpectedly: {len(plans)}"
    return plans


def test_no_cartesian_or_rowwise_python_in_any_batch_plan(catalog_plans):
    violations: dict[str, list[str]] = {}
    for name, plan in catalog_plans.items():
        found = [
            node
            for node, allowed in _BANNED_NODES.items()
            if node in plan and name not in allowed
        ]
        if found:
            violations[name] = found
    assert not violations, (
        "banned physical nodes found (justify in SCALE.md before "
        f"allowlisting): {violations}"
    )


def test_shuffle_exchange_counts_stay_at_pin(catalog_plans):
    unpinned = sorted(set(catalog_plans) - set(_SHUFFLE_BUDGET))
    assert not unpinned, (
        "batch entries without a shuffle budget (measure the count and "
        f"pin it here at registration time): {unpinned}"
    )
    over: dict[str, tuple[int, int]] = {}
    under: dict[str, tuple[int, int]] = {}
    for name, plan in catalog_plans.items():
        n = _count_shuffles(plan)
        pinned = _SHUFFLE_BUDGET[name]
        if n > pinned:
            over[name] = (n, pinned)
        elif n < pinned:
            under[name] = (n, pinned)
    assert not over, (
        "shuffle Exchange count above pin (an added shuffle is the most "
        "expensive regression class at scale — remove it, or re-pin with "
        f"a SCALE.md justification): {over}"
    )
    assert not under, (
        "shuffle Exchange count BELOW pin — an improvement; re-pin the "
        f"new count so the gate stays tight: {under}"
    )


def test_no_banned_nodes_in_streaming_microbatch_plans(spark, monkeypatch):
    """The streaming leg of rule 1: micro-batch executed plans only exist
    while a query runs, so this sweep re-drives each streaming entry with
    ``StreamingQuery.processAllAvailable`` and ``.awaitTermination``
    patched to record the query's last executed plan once they return.
    The engine itself renders no streaming plan. The ~40 s of re-drives
    duplicates executions other tests perform, deliberately:
    piggybacking on test_streaming.py's runs would make this sweep's
    coverage depend on which tests happened to run first. Every
    streaming entry has a micro-batch plan, s25i's foreachBatch CDC
    merge included."""
    from pyspark.sql.streaming.query import StreamingQuery

    plans: list[str] = []

    def recording(wait):
        def run(self, *args, **kwargs):
            out = wait(self, *args, **kwargs)
            plans.append(self._jsq.explainInternal(True))
            return out

        return run

    for attr in ("processAllAvailable", "awaitTermination"):
        monkeypatch.setattr(
            StreamingQuery, attr, recording(getattr(StreamingQuery, attr))
        )

    violations: dict[str, list[str]] = {}
    missing: list[str] = []
    checked = 0
    for name, spec in all_queries().items():
        if "streaming" not in spec.tags:
            continue
        plans.clear()
        spec.build(spark, SF_SMOKE)
        # explainInternal returns a "No physical plan. Waiting for data."
        # placeholder when no micro-batch ever executed — that is NOT a
        # swept plan; report it as missing instead of passing vacuously.
        swept = [p for p in plans if "== Physical Plan ==" in p]
        if not swept:
            missing.append(name)
            continue
        found = sorted(
            node
            for node, allowed in _BANNED_NODES.items()
            if name not in allowed and any(node in p for p in swept)
        )
        if found:
            violations[name] = found
        checked += 1
    assert not violations, (
        f"banned physical nodes in streaming micro-batch plans: {violations}"
    )
    assert missing == [], (
        "streaming entries without a micro-batch plan (no query ran to "
        f"completion through the patched waits): {missing}"
    )
    assert checked >= 12, f"streaming sweep shrank unexpectedly: {checked}"


def test_nested_loop_joins_only_on_scalar_frames(catalog_plans):
    """No entry outside the audited allowlist may plan a
    BroadcastNestedLoopJoin — the uniform runtime signature of a
    condition-less join however it is spelled (see _BNLJ_ALLOWED)."""
    offenders: dict[str, int] = {}
    for name, plan in catalog_plans.items():
        n = plan.count("BroadcastNestedLoopJoin")
        if n != _BNLJ_ALLOWED.get(name, 0):
            offenders[name] = n
    assert not offenders, (
        f"BroadcastNestedLoopJoin count off its audited value: {offenders} "
        "— a keyless join over anything bigger than a 1-row scalar frame "
        "is an all-pairs blowup; give the join a key, or audit the site "
        "(1-row broadcast only) and allowlist it."
    )


def test_allowlists_carry_no_stale_keys(catalog_plans):
    """Every pinned/allowlisted name must still be a live batch entry —
    a stale key would let a future entry silently inherit an unaudited
    budget or allowance (the rot guard test_driver_surface.py applies to
    its own list, applied to this module's three tables)."""
    live = set(catalog_plans)
    for table_name, table in (
        ("_SHUFFLE_BUDGET", _SHUFFLE_BUDGET),
        ("_SORT_AGG_ALLOWED", _SORT_AGG_ALLOWED),
        ("_BNLJ_ALLOWED", _BNLJ_ALLOWED),
    ):
        stale = sorted(set(table) - live)
        assert not stale, (
            f"{table_name} pins entries that no longer exist — prune "
            f"them: {stale}"
        )


def test_sort_aggregate_only_where_audited(catalog_plans):
    """No entry outside the audited allowlist may plan a SortAggregate —
    the round-8 silent-degradation class (see _SORT_AGG_ALLOWED)."""
    offenders: dict[str, int] = {}
    for name, plan in catalog_plans.items():
        n = plan.count("SortAggregate")
        if n != _SORT_AGG_ALLOWED.get(name, 0):
            offenders[name] = n
    assert not offenders, (
        "SortAggregate count off its audited value {got} — a non-hashable "
        "aggregation buffer (string/struct min-max, collect_*) degrades "
        "the whole stage to sort-based; split the offending aggregate "
        "into its own grouping-free or hash-friendly branch (the s32 "
        "round-8 fix), or audit and allowlist it with a measurement."
        .format(got=offenders)
    )
