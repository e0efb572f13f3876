"""Physical-plan audits — the performance contract, checked not assumed.

Every assertion here is a property the 100 TB deployment depends on:
filters and projections must reach the parquet scan (no full-table reads),
dimension joins must broadcast (no shuffle of the fact table against a
25-row dim), and hot relational paths must stay inside WholeStageCodegen.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from xgboost_ray_spark.plans.explain import (
    codegen_stage_count,
    formatted_plan,
    has_broadcast_join,
    has_pushed_filters,
    scan_read_schema,
)
from xgboost_ray_spark.registry import all_queries


def _build(spark, name):
    return all_queries()[name].build(spark, SF_SMOKE)


def test_filter_pushdown_reaches_scan(spark):
    df = _build(spark, "s01_parquet_scan")
    assert has_pushed_filters(df), "l_orderkey < 1000 must push to parquet"


def test_projection_prunes_scan_columns(spark):
    df = _build(spark, "s01_parquet_scan")
    read = set(scan_read_schema(df))
    assert read == {"l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"}, (
        f"scan must read exactly the projected columns, got {read}"
    )


def test_projection_query_prunes(spark):
    df = _build(spark, "s03_projection")
    read = set(scan_read_schema(df))
    assert "c_acctbal" not in read and "c_nationkey" not in read


def test_compound_filter_pushes_sargable_parts(spark):
    assert has_pushed_filters(_build(spark, "s04_filter"))


def test_dim_join_broadcasts(spark):
    """Star-schema dims must broadcast — a shuffle join against a 25-row
    nation table would shuffle the full fact side at 100 TB."""
    assert has_broadcast_join(_build(spark, "s08_broadcast_join"))


def test_small_dim_autobroadcasts_without_hint(spark):
    """AQE/threshold should broadcast nation automatically."""
    from xgboost_ray_spark.catalog import load_table

    cust = load_table(spark, SF_SMOKE, "customer")
    nat = load_table(spark, SF_SMOKE, "nation")
    j = cust.join(nat, cust.c_nationkey == nat.n_nationkey)
    assert has_broadcast_join(j)


def test_flagship_agg_stays_in_codegen(spark):
    df = _build(spark, "s09_groupby_agg")
    assert codegen_stage_count(df) >= 1
    plan = formatted_plan(df)
    assert "HashAggregate" in plan, "group-by must hash-aggregate"
    # partial (map-side) + final aggregate = two HashAggregate nodes
    assert plan.count("HashAggregate") >= 2, "missing map-side partial agg"


def test_no_cartesian_in_joins(spark):
    for name in ("s05_inner_join", "s06_outer_join", "s07_semi_anti_join"):
        plan = formatted_plan(_build(spark, name))
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian join"


def test_topk_uses_window_not_global_sort(spark):
    plan = formatted_plan(_build(spark, "s16_topk_per_group"))
    assert "Window" in plan


def test_sort_limit_uses_takeordered_or_limit(spark):
    plan = formatted_plan(_build(spark, "s15_sort_limit"))
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan, (
        "ORDER BY + LIMIT must not materialize a full global sort"
    )


def test_similarity_topk_broadcasts_queries(spark):
    """The query side must broadcast: shuffling the corpus to the query
    set's partitioning is the scale failure mode."""
    plan = formatted_plan(_build(spark, "s27_cosine_topk"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_lsh_topk_broadcast_bucket_join(spark):
    plan = formatted_plan(_build(spark, "s27b_lsh_topk"))
    assert "BroadcastHashJoin" in plan, (
        "LSH candidate join must broadcast the bucketed query set"
    )


def test_minhash_no_cartesian(spark):
    plan = formatted_plan(_build(spark, "s26b_minhash_lsh"))
    assert "CartesianProduct" not in plan


def test_exact_dedup_partial_aggregates(spark):
    plan = formatted_plan(_build(spark, "s26_dedup_exact"))
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_pivot_two_level_aggregate_no_distinct_scan(spark):
    """Explicit value-list pivot: the standard two-level aggregate (pair agg
    then pivot agg) and NO extra job to collect distinct pivot values."""
    plan = formatted_plan(_build(spark, "s11d_pivot"))
    # one exchange per aggregate level, nothing more (count the "(n) Exchange"
    # detail headers — the tree section repeats every node name)
    assert plan.count(") Exchange") <= 2
    assert "CollectLimit" not in plan


def test_unpivot_uses_expand_not_union(spark):
    """unpivot must be one Expand over one scan, not an N-way union of
    scans (which would read the source N times)."""
    plan = formatted_plan(_build(spark, "s11e_unpivot"))
    assert "Expand" in plan
    assert "Union" not in plan


def test_salted_agg_two_phases(spark):
    """Salted aggregation must plan two aggregate levels: (key, salt) then
    (key) — the fan-out that spreads a hot key across tasks."""
    plan = formatted_plan(_build(spark, "s09c_salted_agg"))
    assert plan.count("HashAggregate") >= 3  # partial+final per level


def test_salted_join_no_broadcast_of_fact(spark):
    """The salted join replicates the dim via explode; the fact side must
    not be broadcast (the whole point is hash-partitioning hot keys)."""
    plan = formatted_plan(_build(spark, "s05b_salted_join"))
    assert "Generate explode" in plan or "Generate" in plan


def test_ivf_assignment_broadcasts_centroids(spark):
    plan = formatted_plan(_build(spark, "s27d_ivf_topk"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_stratified_sample_is_scan_stage_only(spark):
    """The stratified-sample predicate is a pure per-row expression: the
    plan must contain NO shuffle at all, and the lang IS NOT NULL-free
    residual must still let the scan prune columns to (doc_id, lang)."""
    df = _build(spark, "s31b_stratified_sample")
    plan = formatted_plan(df)
    assert plan.count(") Exchange") == 0
    assert has_pushed_filters(df)


def test_hash_split_single_agg_shuffle(spark):
    """Split assignment happens inside the scan stage; the only exchange
    is the final 3-group aggregate."""
    plan = formatted_plan(_build(spark, "s31_hash_split"))
    assert plan.count(") Exchange") == 1


def test_group_sample_uses_window_group_limit(spark):
    """k-per-group sampling must trigger Spark's rank-limit pushdown
    (WindowGroupLimit): each map task keeps only k rows per group BEFORE
    the shuffle — without it, the full table shuffles to the window."""
    plan = formatted_plan(_build(spark, "s31c_group_sample"))
    assert "WindowGroupLimit" in plan
    assert plan.count(") Exchange") == 1


def test_array_hof_no_shuffle(spark):
    """Higher-order array functions are per-row JVM lambdas: zero
    exchanges, zero Python nodes."""
    plan = formatted_plan(_build(spark, "s22b_array_hof"))
    assert plan.count(") Exchange") == 0
    assert "Python" not in plan


def test_range_frame_single_window_shuffle(spark):
    plan = formatted_plan(_build(spark, "s14b_range_frame"))
    assert plan.count(") Exchange") == 1
    assert "Window" in plan


def test_argmax_aggregates_without_window(spark):
    """struct-max argmax must plan as one aggregation shuffle (partial +
    final), never a Window over the full event set."""
    plan = formatted_plan(_build(spark, "s09d_argmax"))
    assert "Window" not in plan
    assert plan.count(") Exchange") == 1


def test_profile_two_branch_hash_friendly_shape(spark):
    """The column profile is TWO global aggregate branches crossJoined as
    1-row scalar frames — never per-column jobs or a Window. Split on
    purpose (profile.py): string min/max buffers are not UnsafeRow-
    mutable, so a combined aggregate degrades the count-DISTINCT Expand
    stage (k rows per input row) to SortAggregate on wide keys, measured
    3x slower. Pin the shape: the distinct branch's Expand aggregates
    stay HASH-based (SortAggregate appears only in the grouping-free
    min/max branch, where zero grouping keys means no sort), and the
    exchange count stays bounded (2 distinct levels + 1 single-partition
    gather)."""
    plan = formatted_plan(_build(spark, "s32_profile"))
    assert "Window" not in plan
    assert "Expand" in plan
    assert plan.count(") Exchange") <= 3
    assert plan.count("HashAggregate") >= 4, (
        "the count-DISTINCT branch regressed to sort-based aggregation — "
        "did string min/max partials get recombined into it?"
    )
    assert plan.count("SortAggregate") <= 4, (
        "SortAggregate beyond the grouping-free min/max branch"
    )


def test_funnel_windows_share_one_shuffle(spark):
    """All three funnel stages window over the same user_id partitioning:
    one exchange + one sort serves all Window nodes, and the per-user
    groupBy reuses that partitioning — the only other exchange is the
    single-row final gather."""
    plan = formatted_plan(_build(spark, "s24c_funnel"))
    assert plan.count(") Window") == 3
    assert plan.count(") Sort") == 1
    assert plan.count(") Exchange") <= 2


def test_tpch_q3_broadcasts_and_takeordered(spark):
    """Q3's pruned customer side is UNHINTED (SF-proportional; at 100 TB
    it must shuffle, not broadcast) — at test scale the static size
    estimate broadcasts it anyway, which this asserts; and the global
    top-10 must plan as TakeOrderedAndProject, never a full sort."""
    df = _build(spark, "s05c_tpch_q3")
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "TakeOrderedAndProject" in plan
    assert has_pushed_filters(df)


def test_pii_redact_is_scan_stage_only(spark):
    """s28h is per-row regex work — it must plan without any Exchange and
    stay inside whole-stage codegen (no UDF, no shuffle)."""
    df = _build(spark, "s28h_pii_redact")
    plan = formatted_plan(df)
    assert "Exchange" not in plan, "per-row redaction must not shuffle"
    assert codegen_stage_count(df) >= 1


def test_repetition_score_two_scans_max(spark):
    """s28g needs token counts (one explode+groupBy) joined to per-row
    2-gram stats — two scans of documents, no more (a naive build would
    re-scan per aggregate)."""
    import re

    plan = formatted_plan(_build(spark, "s28g_repetition_score"))
    # details section lists each physical scan once as "(n) Scan parquet"
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_scans <= 2, f"expected <=2 scans, plan has {n_scans}"


def test_decontaminate_broadcasts_test_split(spark):
    """s26i joins the corpus-size train side with the small test side —
    the test side must broadcast so the train grams never shuffle."""
    assert has_broadcast_join(_build(spark, "s26i_decontaminate"))


def test_boilerplate_phrases_partial_agg(spark):
    """s26h doc-count per phrase must map-side combine (partial_count)
    before the phrase-keyed exchange."""
    plan = formatted_plan(_build(spark, "s26h_boilerplate_phrases"))
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_chunk_overlap_no_shuffle(spark):
    """Overlapping chunking is explode(sequence()) inside the scan stage:
    zero exchanges, zero Python — a pure narrow map per input split."""
    plan = formatted_plan(_build(spark, "s33b_chunk_overlap"))
    assert plan.count(") Exchange") == 0
    assert "Python" not in plan
    assert "Generate" in plan


def test_domain_mixture_single_shuffle(spark):
    """row_number and count share the lang partitioning: ONE exchange
    total; the epoch fan-out (Generate) stays in the same stage."""
    plan = formatted_plan(_build(spark, "s31d_domain_mixture"))
    assert plan.count(") Exchange") == 1
    assert "Generate" in plan
    assert "Python" not in plan


def test_transition_counts_window_then_tiny_aggs(spark):
    """The row-level work is one user_id window shuffle; the remaining two
    exchanges move only the |event_types|^2 transition matrix."""
    plan = formatted_plan(_build(spark, "s24d_transition_counts"))
    assert plan.count(") Exchange") == 3
    assert plan.count(") Window") == 2


def test_quantile_filter_histogram_broadcast(spark):
    """The cutoff must come back to the data as a BROADCAST (nested-loop,
    1 row) — the document side is scan+filter only, never sorted; the two
    real exchanges carry the value histogram, not rows."""
    plan = formatted_plan(_build(spark, "s09e_quantile_filter"))
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count(") Exchange") == 2  # histogram partial/final + window
    # Both cumulative-sum windows share one single-partition sort.
    assert plan.count(") Sort") == 1


def test_fuzzy_snm_linear_candidates(spark):
    """Sorted-neighborhood matching: one block-key shuffle, the neighbor
    fan-out is a Generate over materialized leads (n*W rows, never
    quadratic), and levenshtein stays JVM-side."""
    plan = formatted_plan(_build(spark, "s26j_fuzzy_snm"))
    assert plan.count(") Exchange") == 1
    assert "Generate" in plan
    assert "Python" not in plan


def test_tpch_q5_broadcasts_nation_chain_and_prunes(spark):
    """Q5: the region-pruned nation chain broadcasts into the supplier
    join, the orders date filter pushes to the scan, and every scan is
    column-pruned (no full-width lineitem read for a 4-column need)."""
    df = _build(spark, "s05d_tpch_q5")
    assert has_broadcast_join(df)
    assert has_pushed_filters(df)
    read = set(scan_read_schema(df))
    assert "l_extendedprice" in read
    assert "l_tax" not in read and "o_totalprice" not in read


def test_partition_pruning_resolves_at_planning_time(spark):
    """The partition-column filter must appear as PartitionFilters (whole
    directories skipped before any footer is opened), not as a pushed data
    filter evaluated per row group."""
    from xgboost_ray_spark.plans.explain import has_partition_filters

    df = _build(spark, "s01c_partition_pruning")
    assert has_partition_filters(df)


def test_exists_subquery_decorrelates_to_semi_join(spark):
    """TPC-H Q4's correlated EXISTS must never execute per-row: Catalyst's
    RewritePredicateSubquery turns it into one LEFT SEMI join on the order
    key, so the plan is two pushed-down scans + one keyed shuffle."""
    df = _build(spark, "s07b_exists_subquery")
    plan = formatted_plan(df)
    assert "LeftSemi" in plan, "EXISTS must decorrelate to a semi join"
    assert "Subquery" not in plan, "no per-row subquery execution allowed"
    assert has_pushed_filters(df)


def test_scalar_subquery_decorrelates_to_one_aggregate(spark):
    """TPC-H Q17's per-part threshold must plan as ONE aggregate of
    lineitem joined back on l_partkey — not a scalar subquery re-run per
    outer row. Cost at scale: two lineitem scans + a partkey shuffle."""
    plan = formatted_plan(_build(spark, "s09f_scalar_subquery"))
    assert "Subquery" not in plan, "correlated scalar must decorrelate"
    assert plan.count("Scan parquet") >= 2  # lineitem twice + part


def test_tpch_q10_broadcasts_nation_and_takeorders(spark):
    """Q10: quarter filter pushes into the orders scan, returnflag into
    lineitem, the 25-row nation broadcasts, and the global top-20 is
    TakeOrderedAndProject (partial top-k per partition, no global sort)."""
    df = _build(spark, "s05e_tpch_q10")
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "TakeOrderedAndProject" in plan
    assert has_pushed_filters(df)
    read = set(scan_read_schema(df))
    assert "l_tax" not in read and "o_totalprice" not in read


def test_cdc_upsert_single_keyed_shuffle(spark):
    """The MERGE shape is one full-outer join on the key: each side
    exchanges at most once on o_orderkey and the key-arithmetic filters
    push into the scans. No post-join re-shuffle."""
    df = _build(spark, "s06c_cdc_upsert")
    plan = formatted_plan(df)
    assert "FullOuter" in plan
    assert plan.count(") Exchange") <= 2
    assert has_pushed_filters(df)


def test_scd2_windows_share_one_shuffle(spark):
    """Boundary detection (lag) and interval close-out (lead) ride the
    same (user_id; ts, event_id) spec: exactly one exchange + one sort
    serves both Window nodes."""
    plan = formatted_plan(_build(spark, "s14c_scd2_intervals"))
    assert plan.count(") Window") == 2
    assert plan.count(") Sort") == 1
    assert plan.count(") Exchange") == 1


def test_disjunctive_residue_pushes_to_both_scans(spark):
    """Q19's OR of cross-table conjunctions: Catalyst must extract the
    per-table residue — the brand/size OR-chain into the part scan, the
    quantity OR-chain into lineitem — and broadcast the filtered part
    side. One exchange total (the final single-row gather)."""
    df = _build(spark, "s04b_disjunctive_pushdown")
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "Or(" in plan, "disjunctive residue must reach PushedFilters"
    assert plan.count(") Exchange") <= 1


def test_having_join_aggregates_before_joining(spark):
    """Q18: the HAVING aggregate must reduce lineitem to qualifying keys
    BEFORE the orders/customer joins — the only shuffle is the orderkey
    aggregation; the joins build on the tiny survivor side."""
    import re

    plan = formatted_plan(_build(spark, "s12b_having_join"))
    # Formatted-plan node ids number the operators in EXECUTION order
    # (children lower than parents), so aggregate-before-join means the
    # first HashAggregate id is smaller than every Join id.
    agg_ids = [int(m) for m in re.findall(r"HashAggregate \((\d+)\)", plan)]
    join_ids = [int(m) for m in re.findall(r"Join \w+ \w+ \((\d+)\)", plan)]
    assert agg_ids and join_ids, plan
    assert min(agg_ids) < min(join_ids), (
        f"aggregate (node {min(agg_ids)}) must execute before the first "
        f"join (node {min(join_ids)})"
    )
    assert plan.count(") Exchange") <= 1, "joins must not add shuffles"


def test_outerjoin_histogram_keeps_left_rows(spark):
    """Q13: the orders-side predicate rides in the join condition (pushed
    to the scan) without collapsing the LEFT OUTER to inner, and the
    histogram re-agg shuffles only (count, 1) pairs."""
    df = _build(spark, "s06d_outerjoin_histogram")
    plan = formatted_plan(df)
    assert "LeftOuter" in plan
    assert has_pushed_filters(df)
    assert plan.count(") Exchange") <= 2


def test_inactive_customers_broadcasts_threshold_and_antijoins(spark):
    """Q22: the global-average threshold is one broadcast single-row
    aggregate (never a per-row subquery), the NOT EXISTS is a LEFT ANTI
    join, and the recency cutoff prunes the orders scan."""
    df = _build(spark, "s07c_inactive_customers")
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan, (
        "date cutoff must push into the orders scan"
    )


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """When a selective dim join cannot broadcast, Spark injects a
    runtime bloom filter: the dim side's keys aggregate into a bloom
    sketch and a might_contain() predicate drops fact rows BEFORE the
    shuffle — at 100 TB this is the difference between shuffling the
    whole fact table and shuffling the ~join-selectivity fraction.
    Thresholds are forced down to fire at test scale; production keeps
    the 10 GB application-side default."""
    from xgboost_ray_spark.catalog import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "1KB",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        part = (
            load_table(spark, SF_SMOKE, "part")
            .filter(F.col("p_size") < 3)
            .select("p_partkey", "p_brand")
        )
        li = load_table(spark, SF_SMOKE, "lineitem").select(
            "l_partkey", "l_extendedprice"
        )
        j = (
            li.join(part, F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand")
            .agg(F.count("*").alias("n"))
        )
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in optimized, (
            "runtime bloom filter must inject into the fact side"
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bigram_counts_single_shuffle(spark):
    """The bigram fan-out must stay inside the scan stage: one exchange
    total, carrying map-side-combined (bigram, count) partials."""
    plan = formatted_plan(_build(spark, "s28i_bigram_counts"))
    assert plan.count(") Exchange") == 1
    assert "Generate" in plan, "explode must fan out, not a UDF"


def test_label_centroids_single_shuffle(spark):
    """posexplode fans out in the scan stage; the only exchange carries
    (label, dim) partial sums — bytes ~ labels x dims, never rows."""
    plan = formatted_plan(_build(spark, "s27f_label_centroids"))
    assert plan.count(") Exchange") == 1


def test_aqe_splits_skewed_join_partition(spark):
    """The session enables spark.sql.adaptive.skewJoin; this pins that it
    actually fires: a 95%-one-key fact joined to a non-broadcastable dim
    must replan to SortMergeJoin(skew=true) with the hot partition split
    into advisory-sized reads — Spark-native skew handling, the zero-code
    complement to the salted variants (s05b/s09c). Thresholds forced down
    to fire at test scale."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        fact = spark.range(500_000).select(
            F.when(F.rand(7) < 0.95, F.lit(0))
            .otherwise((F.rand(11) * 10000).cast("long"))
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("pad"),
        )
        dim = spark.range(10_000).select(
            F.col("id").alias("k2"),
            F.md5(F.col("id").cast("string")).alias("attr"),
        )
        j = (
            fact.join(dim, F.col("k") == F.col("k2"))
            .groupBy()
            .agg(F.count("*").alias("n"))
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE must split the skewed partition"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_incremental_agg_pushes_both_date_branches(spark):
    """s09g: each branch's date filter must reach the scan, and the whole
    merge costs two keyed exchanges (branch partials + final combine) —
    never a row-level shuffle of the base."""
    df = _build(spark, "s09g_incremental_agg")
    plan = formatted_plan(df)
    assert has_pushed_filters(df)
    assert plan.count(") Exchange") <= 2


def test_point_in_time_single_window_shuffle(spark):
    """s14d: boundary detection and interval close-out share one
    (user_id; ts, event_id) spec — one exchange + one sort serve both
    Window passes, same as the history build it reads from."""
    plan = formatted_plan(_build(spark, "s14d_point_in_time"))
    assert plan.count(") Window") == 2
    assert plan.count(") Sort") == 1
    assert plan.count(") Exchange") == 1


def test_map_funcs_two_keyed_exchanges(spark):
    """s22c: the map is built and consumed inside the user aggregation —
    (user, type) counts then user maps, two keyed exchanges, and the
    transform_values lambda adds no shuffle or Python stage."""
    plan = formatted_plan(_build(spark, "s22c_map_funcs"))
    assert plan.count(") Exchange") == 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_retention_cohorts_broadcasts_firsts(spark):
    """s24e: the per-user firsts aggregate is dim-sized and must
    broadcast back onto events — the fact table shuffles only for the
    initial user aggregate, never for the join."""
    df = _build(spark, "s24e_retention_cohorts")
    assert has_broadcast_join(df)
    assert formatted_plan(df).count(") Exchange") <= 3


def test_data_quality_report_stays_aggregate_shaped(spark):
    """s32b: the five checks reduce to single-row aggregates off ONE
    lineitem pass — a single LEFT join (broadcast at this scale) feeds
    the orphan + temporal + range rules as conditional aggregates, so
    the plan has no Union of per-rule scans, and the whole report is a
    handful of one-row frames stacked at the end."""
    df = _build(spark, "s32b_data_quality")
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "Union" not in plan, "rule-per-query union re-scans the fact table"
    # one partial+final aggregate pair per input branch, nothing per-rule
    # (count the numbered detail headers: one per physical node)
    import re

    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) <= 4, plan


# ---------------------------------------------------------------------------
# Round-3 additions: TPC-H Q7/Q8/Q14/Q21 shapes, islands, weighted sample
# ---------------------------------------------------------------------------
def test_q7_broadcasts_dims_and_prunes_shipdate(spark):
    """Both nation-filtered dimension sides must broadcast and the ship-date
    range must reach the lineitem scan — at 100 TB only two years of
    lineitem survive the scan and the fact side shuffles once."""
    df = _build(spark, "s05f_tpch_q7")
    assert has_broadcast_join(df)
    assert has_pushed_filters(df)


def test_q8_reads_minimal_lineitem_columns(spark):
    """The eight-table Q8 join must not widen the fact scan: lineitem
    contributes exactly its join keys + the two revenue columns."""
    df = _build(spark, "s05g_tpch_q8")
    assert has_broadcast_join(df)
    read = set(scan_read_schema(df))  # union across all eight scans
    unneeded = {
        "l_quantity", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate", "l_linenumber", "o_totalprice", "c_acctbal",
    }
    assert not (read & unneeded), read & unneeded


def test_q14_single_agg_no_extra_exchange(spark):
    """Numerator and denominator of the promo ratio come from ONE aggregate
    pass: a single partial/final exchange pair, part broadcast."""
    df = _build(spark, "s21b_promo_revenue")
    assert has_broadcast_join(df)
    plan = formatted_plan(df)
    assert plan.count(") Exchange") <= 1, plan


def test_q21_decorrelates_to_semi_and_anti_joins(spark):
    """EXISTS / NOT EXISTS must decorrelate to one semi + one anti join —
    never a per-row subquery — and the top-20 must be TakeOrdered."""
    df = _build(spark, "s07d_sole_fault_supplier")
    plan = formatted_plan(df)
    assert "LeftSemi" in plan, "EXISTS must plan as a left semi join"
    assert "LeftAnti" in plan, "NOT EXISTS must plan as a left anti join"
    assert "TakeOrderedAndProject" in plan


def test_gaps_islands_scan_and_shuffle_budget(spark):
    """Islands read exactly (user_id, ts); distinct + window + island agg
    is at most three exchanges, all keyed by user_id prefixes."""
    df = _build(spark, "s14e_gaps_islands")
    read = set(scan_read_schema(df))
    assert read <= {"user_id", "ts"}, read
    plan = formatted_plan(df)
    assert plan.count(") Exchange") <= 3, plan


def test_weighted_sample_is_take_ordered(spark):
    """The ES top-k must be TakeOrderedAndProject — per-partition partial
    top-k, no global sort, no corpus shuffle."""
    df = _build(spark, "s31f_weighted_sample")
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert plan.count(") Exchange") == 0, plan


def test_class_entropy_no_shuffle(spark):
    """Entropy is per-row regex arithmetic — one codegen stage, zero
    Exchange; at 100 TB it runs at scan speed."""
    df = _build(spark, "s28k_class_entropy")
    plan = formatted_plan(df)
    assert plan.count(") Exchange") == 0, plan


def test_drift_report_shuffles_histograms_not_events(spark):
    """PSI plan: the (type, bin) aggregate reduces events to histogram
    counts before the window and final aggregate — exchanges carry at
    most types x bins rows after the first."""
    df = _build(spark, "s32c_drift_report")
    plan = formatted_plan(df)
    assert plan.count(") Exchange") <= 3, plan
    read = set(scan_read_schema(df))
    assert read <= {"event_type", "ts", "value"}, read


def test_q6_all_predicates_push_to_scan(spark):
    """Q6 is the IO yardstick: every predicate is sargable, so the scan
    must carry pushed filters and read exactly the four touched columns;
    one partial/final aggregate pair, nothing else."""
    df = _build(spark, "s04c_tpch_q6")
    assert has_pushed_filters(df)
    read = set(scan_read_schema(df))
    assert read == {
        "l_shipdate", "l_discount", "l_quantity", "l_extendedprice",
    }, read
    plan = formatted_plan(df)
    assert plan.count(") Exchange") == 1, plan


def test_udtf_token_runs_zero_shuffle(spark):
    """The UDTF walks each document in-line in the scan stage; the plan
    must contain the lateral Generate/UDTF node and ZERO Exchange — the
    relational spelling (explode + window) would shuffle every token."""
    df = _build(spark, "s29g_udtf_token_runs")
    plan = formatted_plan(df)
    assert plan.count(") Exchange") == 0, plan
    assert "token_runs" in plan or "UDTF" in plan, plan


def test_map_in_arrow_zero_shuffle_and_pruned(spark):
    """mapInArrow vector math: scan -> one Python stage; no Exchange, and
    the scan reads only (vec_id, embedding) — label must be pruned."""
    df = _build(spark, "s29i_map_in_arrow")
    plan = formatted_plan(df)
    assert plan.count(") Exchange") == 0, plan
    read = set(scan_read_schema(df))
    assert read == {"vec_id", "embedding"}, read


def test_grouped_agg_udaf_prunes_before_shuffle(spark):
    """The UDAF's single keyed Exchange must carry only the grouping keys
    + the int64 measure — text is pruned at the scan."""
    df = _build(spark, "s29h_grouped_agg_udaf")
    read = set(scan_read_schema(df))
    assert read == {"source", "lang", "n_chars"}, read
    plan = formatted_plan(df)
    assert plan.count(") Exchange") == 1, plan


def test_lsh_neardup_pairs_bucket_bounded(spark):
    """Whole-corpus near-dup pair generation must stay in-bucket: the
    kept-buckets list broadcasts, and no cartesian/nested-loop join of
    corpus x corpus exists anywhere in the plan."""
    df = _build(spark, "s27g_lsh_neardup_pairs")
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count(") Exchange") <= 4, plan
    assert set(scan_read_schema(df)) == {"vec_id", "embedding"}


def test_unigram_logprob_broadcasts_total_not_corpus(spark):
    """CCNet-style LM scoring: the corpus-total single row broadcasts
    (nested-loop on 1 row is free); the token->frequency join shuffles on
    tok (AQE broadcasts it when the vocab is small); no cartesian ever."""
    df = _build(spark, "s28l_unigram_logprob")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count(") Exchange") <= 4, plan
    assert set(scan_read_schema(df)) == {"doc_id", "text"}


def test_negative_pairs_single_keyed_shuffle(spark):
    """The hash-ring negative sampler: corpus size broadcasts as a single
    row, fan-out is an in-stage explode, and only the neg_id metadata
    join shuffles — one keyed Exchange for the whole operator."""
    df = _build(spark, "s31g_negative_pairs")
    plan = formatted_plan(df)
    assert plan.count(") Exchange") <= 1, plan
    assert "CartesianProduct" not in plan, plan


def test_feature_hash_two_phase_distinct(spark):
    """Hashing-trick featurization: explode stays in the scan stage; the
    two Exchanges are the two-phase (bucket, tok) distinct + final bucket
    aggregate — both keyed on hashed buckets, both skew-free by design."""
    df = _build(spark, "s28j_feature_hash")
    plan = formatted_plan(df)
    assert plan.count(") Exchange") <= 2, plan
    assert set(scan_read_schema(df)) == {"text"}


def test_distribution_ranks_share_one_window_shuffle(spark):
    """percent_rank and cume_dist over the same window spec must share a
    single partition Exchange, with the rank filter pushed to the scan."""
    df = _build(spark, "s13b_distribution_ranks")
    plan = formatted_plan(df)
    assert plan.count(") Exchange") == 1, plan
    assert has_pushed_filters(df)


def test_incremental_neardup_broadcasts_delta_keys(spark):
    """The day job must never shuffle the stored index against the
    corpus: the delta's distinct band digests broadcast into the index
    scan, and the only Exchanges are the touched-bucket group-by, the
    delta-key distinct (delta-sized), and the final pair distinct."""
    df = _build(spark, "s26k_incremental_neardup")
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count(") Exchange") <= 3, plan


def test_embedding_quantize_zero_corpus_shuffle(spark):
    """Quantization must be stats-broadcast + narrow transform: the only
    aggregate is the one-row min/max stats job (its Exchange carries
    2*dim doubles), and the corpus itself never shuffles."""
    df = _build(spark, "s27h_embedding_quantize")
    plan = formatted_plan(df)
    assert has_broadcast_join(df) or "BroadcastNestedLoopJoin" in plan
    assert plan.count(") Exchange") <= 1, plan
    assert set(scan_read_schema(df)) <= {"vec_id", "embedding"}


def test_quantized_topk_broadcasts_both_stages(spark):
    """Two-stage quantized ANN: stage-1 scores against BROADCAST quantized
    queries (corpus scan stays put), stage-2 reranks only the broadcast
    candidate list — no cartesian product, bounded exchange budget (the
    per-query window ranks and the one-row stats aggregate)."""
    df = _build(spark, "s27i_quantized_topk")
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count(") Exchange") <= 4, plan


def test_dynamic_partition_pruning_subquery_in_scan(spark):
    """s01i: the fact scan's PartitionFilters must carry a dynamicpruning
    subquery — partitions chosen at runtime by the filtered dim's build
    side, never a full fact scan followed by a post-join filter."""
    from xgboost_ray_spark.plans.explain import has_dynamic_pruning

    df = _build(spark, "s01i_dynamic_partition_pruning")
    assert has_dynamic_pruning(df)


def test_tpch_q9_broadcasts_all_dims(spark):
    """Q9: part (LIKE-filtered), supplier, and nation must all broadcast —
    the only fact-fact shuffle is lineitem-orders on l_orderkey. The
    p_name filter cannot push (LIKE '%..%' is unsargable) but part's scan
    must still prune to p_partkey+p_name."""
    df = _build(spark, "s05h_tpch_q9")
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    read = set(scan_read_schema(df))
    assert "p_retailprice" not in read and "p_brand" not in read
    assert "l_tax" not in read


def test_tpch_q15_no_global_single_partition_sort(spark):
    """Q15's max-revenue selection must be a one-row broadcast joined
    back, never a window over a single partition (the classic
    rank-over-empty-partitionBy scale trap)."""
    df = _build(spark, "s16b_tpch_q15")
    plan = formatted_plan(df)
    assert "Window" not in plan, "max selection must not use a global window"
    assert has_broadcast_join(df)
    assert has_pushed_filters(df)  # l_shipdate range reaches the scan


def test_tpch_q12_scans_prune_to_three_columns_each(spark):
    df = _build(spark, "s21c_tpch_q12")
    read = set(scan_read_schema(df))
    assert "o_totalprice" not in read and "l_quantity" not in read
    assert {"o_orderdate", "l_shipdate", "l_returnflag"} <= read


def test_jsonl_scan_reads_explicit_schema_only(spark):
    """The JSONL read must carry the explicit 4-column schema (one-pass,
    no inference job) — ReadSchema on the JSON scan node lists exactly
    the declared fields."""
    df = _build(spark, "s01g_jsonl_scan")
    read = set(scan_read_schema(df))
    assert read == {"doc_id", "lang", "source", "n_chars"}


def test_unicode_normalize_is_shuffle_free(spark):
    """NFC normalization is a narrow per-row transform: no Exchange
    anywhere in the plan (scan -> pandas UDF -> project)."""
    plan = formatted_plan(_build(spark, "s29j_unicode_normalize"))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "BatchEvalPython" not in plan


def test_pagerank_returns_materialized_state_without_cache_retention(spark):
    """The returned rank state is a localCheckpoint: consumers read
    materialized blocks with no shuffle and no recompute, and nothing
    stays registered with the CacheManager (a rebuild re-executes the
    loop — what keeps the determinism sweep honest)."""
    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    df = _build(spark, "s24g_pagerank")
    after = sc._jsc.getPersistentRDDs().size()
    plan = formatted_plan(df)
    assert "ExistingRDD" in plan, plan
    assert ") Exchange" not in plan, (
        "reading the final rank state must not shuffle"
    )
    # delta, not absolute: other session-scoped caches may exist. Exactly
    # ONE new persisted RDD is allowed — the returned localCheckpoint's
    # own storage (freed when the frame is GC'd, and not plan-keyed in
    # the CacheManager, so it can never serve a rebuild). The loop's
    # esrc/nodes/ranks persists must all be gone.
    assert after <= before + 1, (
        f"pagerank leaked {after - before - 1} loop-scoped persist(s)"
    )


def test_outlier_flags_single_window_shuffle(spark):
    """The exact 3-sigma predicate is one window shuffle on the group key;
    the scan reads only the three output columns (v derives from value)."""
    df = _build(spark, "s32d_outlier_flags")
    plan = formatted_plan(df)
    assert plan.count(") Exchange") == 1
    read = set(scan_read_schema(df))
    assert read == {"event_id", "event_type", "value"}, read


def test_prefix_filter_join_avoids_cartesian(spark):
    """Candidate generation is an equi-join on prefix shingles — never a
    cartesian/nested-loop product of the corpus with itself."""
    plan = formatted_plan(_build(spark, "s26l_prefix_filter_join"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_prefix_filter_doc_size_rides_ranking_window(spark):
    """The doc-size count feeding the prefix-length bound must ride the
    ranking window's doc_id partition (count(*) OVER the same window
    spec the rare-first ranking already shuffles for), not a separate
    groupBy joined back on doc_id — the join shape re-scans and
    re-shuffles the full shingle frame once more per self-join side.
    Pin scripts/audit_plan_duplication.py's metric for this entry: the
    shingle spill appears in at most 3 scans of the final adaptive plan
    (it was 4 with the aggregate+join shape)."""
    import re

    df = _build(spark, "s26l_prefix_filter_join")
    df.collect()  # AQE final plan: reused query stages collapse to one
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # the adaptive final plan
    n_spill_scans = len(
        re.findall(r"Scan parquet[^\n]*/ppjoin_shingles_\d", final)
    )
    assert n_spill_scans <= 3, (
        f"shingle spill scanned {n_spill_scans}x — the doc-size count "
        "regressed to a separate aggregate+join per self-join side"
    )


def test_prefix_filter_join_reads_materialized_pref_and_toks(spark):
    """r15 shape pin: the returned plan self-joins the ONCE-materialized
    prefix ranking (ppjoin_pref spill) and joins the ONCE-materialized
    token arrays (ppjoin_toks spill) — it must NOT re-derive either from
    the shingle spill per side (the r14 plan ran the whole
    scan->dfreq->window subtree and the collect_set aggregate twice,
    once per self-join side). Expected scans in the returned plan:
    pref x2 (candidate sides), toks x2 (verify sides), shingles x0;
    the single shuffle Exchange left is the pair aggregate
    (test_plan_hygiene pins the count)."""
    import re

    df = _build(spark, "s26l_prefix_filter_join")
    plan = formatted_plan(df)
    scans = {
        tag: len(re.findall(rf"/ppjoin_{tag}_\d", plan))
        for tag in ("shingles", "pref", "toks", "dfreq")
    }
    assert scans["shingles"] == 0, (
        f"returned plan re-reads the shingle spill {scans['shingles']}x — "
        "the per-side ranking/collect_set duplication is back"
    )
    assert scans["pref"] == 2, scans
    assert scans["toks"] == 2, scans
    assert scans["dfreq"] == 0, scans


def test_kmeans_assignment_is_zero_shuffle(spark):
    """Centroids are plan literals, so the returned assignment plan is a
    cache read + JVM projection — no Exchange, no join."""
    df = _build(spark, "s27j_kmeans")
    plan = formatted_plan(df)
    assert ") Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert set(scan_read_schema(df)) == {"vec_id", "embedding"}


def test_quantile_bins_single_window_shuffle(spark):
    plan = formatted_plan(_build(spark, "s31h_quantile_bins"))
    assert plan.count(") Exchange") == 1
    assert "Window" in plan


def test_tfidf_single_corpus_explode(spark):
    """The r4 bench regression: a df-branch spelled as tf.groupBy(w) gets
    its partial aggregate pruned to distinct-only, defeats exchange reuse,
    and re-runs the corpus explode. Pin the fixed shape: exactly one
    Generate(explode) and one text-reading scan in the whole plan (the
    second documents scan is the zero-column COUNT(*) for N), df via a
    window count with no vocabulary-sized broadcast build."""
    import re

    df = _build(spark, "s28e_tfidf_top_terms")
    plan = formatted_plan(df)
    # formatted explain prints each node twice (tree + details); count the
    # numbered detail headers, one per physical node.
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 1, plan
    text_scans = [
        line
        for line in plan.splitlines()
        if "Scan parquet" in line or "ReadSchema" in line
    ]
    reading_text = [ln for ln in text_scans if "text" in ln]
    assert len(reading_text) <= 1, reading_text
    assert "BroadcastHashJoin" not in plan, (
        "df must come from a window count, not a broadcast join"
    )


def test_unigram_logprob_single_corpus_explode(spark):
    """Same duplication class as s28e: corpus frequencies must come from
    a window over the tf frame, not a second explode branch; the total
    token count is size(split()) straight off the scan — so exactly one
    explode-Generate in the plan."""
    import re

    plan = formatted_plan(_build(spark, "s28l_unigram_logprob"))
    explodes = [
        m
        for m in re.findall(r"^\(\d+\) Generate", plan, re.M)
    ]
    assert len(explodes) == 1, plan


def test_data_quality_single_lineitem_pass(spark):
    """All four lineitem rules (orphans via null build side, both range
    checks, the temporal invariant) must ride ONE lineitem scan and one
    join — rule-per-query spelling scanned the fact table 4x."""
    plan = formatted_plan(_build(spark, "s32b_data_quality"))
    li_scans = [
        line
        for line in plan.splitlines()
        if "Location" in line and "lineitem.parquet" in line
    ]
    assert len(li_scans) == 1, li_scans


def test_read_schema_split_handles_nested_structs():
    """ReadSchema parsing must split on depth-0 commas only: a nested
    struct<a:int,b:int> field would otherwise surface phantom top-level
    column names ('b') and make pruning assertions pass/fail on wrong
    data."""
    from xgboost_ray_spark.plans.explain import _split_top_level

    inner = "meta:struct<a:int,b:int>,x:double,m:map<string,int>"
    fields = _split_top_level(inner)
    assert [f.split(":", 1)[0] for f in fields] == ["meta", "x", "m"]
