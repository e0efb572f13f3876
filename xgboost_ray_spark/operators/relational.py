"""Core relational surface: scans, projection, filter, aggregation, rollup,
distinct, sort/limit, set ops, scalar function families, JSON, time windows.

SURVEY.md §2.2 S1-S4, S9-S12, S15, S17-S24.  Every query is declared through
the DataFrame API so Catalyst plans it: filters/projections reach the parquet
scan (PushedFilters/ReadSchema), aggregations get map-side partial combine,
and AQE sizes the shuffles.  At 100 TB none of these collect to the driver —
results are aggregates or bounded top-k sets.

Numeric policy: see registry.dsum/davg — double arithmetic accumulates in
DECIMAL so the DuckDB oracle hashes match bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xgboost_ray_spark.catalog import load_table, scratch_path
from xgboost_ray_spark.registry import DEC, davg, dsum, register, sql_davg, sql_dsum


# ---------------------------------------------------------------------------
# S1 — Parquet scan with pushdown
# ---------------------------------------------------------------------------
@register(
    "s01_parquet_scan",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_orderkey < 1000
    """,
    doc="Parquet scan; predicate + projection pushed into the scan "
        "(reference: data_sources/parquet.py:25-48 shard-by-file load).",
    tags=("scan",),
)
def s01_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") < 1000).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


# ---------------------------------------------------------------------------
# S2 — CSV scan (round-trip through a scratch CSV with explicit schema)
# ---------------------------------------------------------------------------
@register(
    "s02_csv_scan",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    doc="CSV source with header and explicit schema (no inferSchema in prod); "
        "reference: data_sources/csv.py:25-47.",
    tags=("scan",),
)
def s02_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    # Every build writes a fresh scratch path (catalog.scratch_path): a
    # shared path rewritten by a later build would pull the files out
    # from under a previously built, still-lazy result. Same for every
    # scratch round-trip entry below.
    out = scratch_path("nation_csv")
    nation.coalesce(1).write.option("header", True).csv(out)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return spark.read.option("header", True).csv(out, schema=schema)


# ---------------------------------------------------------------------------
# S1b — ORC scan (round-trip through a scratch ORC file)
# ---------------------------------------------------------------------------
@register(
    "s01b_orc_scan",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier
    WHERE s_acctbal > 0
    """,
    doc="ORC source: columnar scan with predicate/projection pushdown via "
        "Spark's native ORC reader (spark.read.orc); oracle "
        "runs on the parquet twin of the same rows. Source-breadth parity: "
        "data_sources/__init__.py:13-24.",
    tags=("scan",),
)
def s01b_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    out = scratch_path("supplier_orc")
    supp.write.orc(out)
    return spark.read.orc(out).filter(F.col("s_acctbal") > 0)


# ---------------------------------------------------------------------------
# S1g — JSON-lines scan (the LLM-corpus interchange format)
# ---------------------------------------------------------------------------
@register(
    "s01g_jsonl_scan",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE n_chars >= 64
    """,
    doc="JSON-lines source with an explicit schema — the interchange "
        "format most LLM corpora actually arrive in (one JSON object per "
        "line, newline-delimited, splittable). Explicit schema keeps the "
        "read single-pass: with inference Spark would scan every file "
        "twice, which at 100 TB doubles ingest cost for nothing. The "
        "filter applies post-parse (JSON rows carry no column stats — "
        "exactly why the first pipeline step should be converting JSONL "
        "to parquet; the round trip here is that conversion's read side). "
        "Oracle runs on the parquet twin of the same rows.",
    tags=("scan",),
)
def s01g_jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    out = scratch_path("documents_jsonl")
    docs.write.json(out)
    schema = "doc_id bigint, lang string, source string, n_chars bigint"
    return spark.read.json(out, schema=schema).filter(F.col("n_chars") >= 64)


# ---------------------------------------------------------------------------
# S1c — Hive-partitioned layout: write partitioned, read back with pruning
# ---------------------------------------------------------------------------
@register(
    "s01c_partition_pruning",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    """,
    doc="Hive-style partitioned layout round trip: orders written "
        "partitionBy(o_orderpriority), read back with an equality filter "
        "on the partition column. The filter resolves against directory "
        "names at PLANNING time (PartitionFilters in the scan node, "
        "audited in tests/test_plans.py) — at 100 TB this skips 4/5 of "
        "the files without opening a footer, the single cheapest scan "
        "lever there is. Data columns stay pruned to the projection.",
    tags=("scan", "layout"),
)
def s01c_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    out = scratch_path("orders_by_priority")
    orders.write.partitionBy("o_orderpriority").parquet(out)
    return (
        spark.read.parquet(out)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# S1i — DYNAMIC partition pruning: partitions picked by a runtime join
# ---------------------------------------------------------------------------
DPP_HIGH = ("1-URGENT", "2-HIGH")


@register(
    "s01i_dynamic_partition_pruning",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
             AS sum_price
    FROM orders
    WHERE o_orderpriority IN ('{DPP_HIGH[0]}', '{DPP_HIGH[1]}')
    GROUP BY o_orderpriority
    """,
    doc="DYNAMIC partition pruning: the fact table is partitioned by "
        "o_orderpriority, but which partitions matter is only known at "
        "runtime — a dimension table filtered on a NON-partition column "
        "(pclass = 'high') decides. Spark inserts a dynamicpruning "
        "subquery into the fact scan's PartitionFilters (audited in "
        "tests/test_plans.py): the broadcast dim executes first and the "
        "fact scan then skips whole directories, no footer reads. At "
        "100 TB this is star-schema bread and butter — the date-dim "
        "filter pruning the fact's date partitions without anyone "
        "hard-coding dates into the query. Static pruning (s01c) "
        "handles literal predicates; this handles join-derived ones.",
    tags=("scan", "layout", "join"),
)
def s01i_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    fact_path = scratch_path("orders_dpp_fact")
    dim_path = scratch_path("priority_dim")
    orders.write.partitionBy("o_orderpriority").parquet(fact_path)
    # The dim: priority -> class, stored as its own table so the 'high'
    # filter cannot constant-fold into a static partition predicate.
    (
        orders.select("o_orderpriority")
        .distinct()
        .withColumn(
            "pclass",
            F.when(F.col("o_orderpriority").isin(*DPP_HIGH), "high").otherwise(
                "low"
            ),
        )
        .write.parquet(dim_path)
    )
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).filter(F.col("pclass") == "high")
    return (
        fact.join(F.broadcast(dim), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice"), "sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# S1 variant — schema-evolution scan (mergeSchema over heterogeneous files)
# ---------------------------------------------------------------------------
@register(
    "s01d_schema_evolution",
    oracle="""
    SELECT doc_id, n_chars,
           CASE WHEN doc_id % 2 = 1 THEN lang ELSE NULL END AS lang
    FROM documents
    """,
    doc="Schema evolution at the source: an old-layout file (doc_id, "
        "n_chars) and a new-layout file (+lang) under one prefix, read "
        "with mergeSchema=true — rows from the old file surface NULL for "
        "the added column, exactly DuckDB's union_by_name semantics. The "
        "lakehouse reality at 100 TB: years of files written under "
        "evolving schemas must scan as one table without a rewrite. "
        "Merge cost is footer-only (per file, at planning); data "
        "pushdown and column pruning still apply per file.",
    tags=("scan", "layout"),
)
def s01d_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = scratch_path("docs_evolving")
    old = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "n_chars")
    new = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "n_chars", "lang")
    old.write.parquet(os.path.join(out, "gen=0"))
    new.write.parquet(os.path.join(out, "gen=1"))
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(out, "gen=0"), os.path.join(out, "gen=1"))
        .select("doc_id", "n_chars", "lang")
    )


# ---------------------------------------------------------------------------
# S1 variant — small-file compaction (layout maintenance)
# ---------------------------------------------------------------------------
COMPACT_SMALL_FILES = 32
COMPACT_TARGET_FILES = 2


@register(
    "s01e_compaction",
    oracle="SELECT doc_id, lang, n_chars FROM documents",
    doc="Small-file compaction — the table-maintenance job every long-"
        "lived ingest needs: a documents copy fragmented into "
        f"{COMPACT_SMALL_FILES} files is rewritten as "
        f"{COMPACT_TARGET_FILES} right-sized ones with coalesce "
        "(a partition-count-only narrow dependency: no shuffle, each "
        "output task concatenates input splits). The oracle checks the "
        "full write-compact-read round trip is content-exact. At 100 TB "
        "the target count comes from bytes/128MB per partition dir, and "
        "compaction runs partition-by-partition so the job never holds "
        "the table; a shuffle-free coalesce is the whole point — "
        "repartition() would pay a full shuffle for the same layout.",
    tags=("scan", "layout", "maintenance"),
)
def s01e_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    frag = scratch_path("docs_fragmented")
    compact = scratch_path("docs_compacted")
    docs.repartition(COMPACT_SMALL_FILES).write.parquet(frag)
    spark.read.parquet(frag).coalesce(COMPACT_TARGET_FILES).write.parquet(compact)
    return spark.read.parquet(compact)


# ---------------------------------------------------------------------------
# S1h — z-order clustered layout: multi-dimensional data skipping
# ---------------------------------------------------------------------------
ZORDER_FILES = 8


@register(
    "s01h_zorder_layout",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
    FROM lineitem
    WHERE l_partkey < 50
    """,
    doc="Z-order (Morton) clustered rewrite of lineitem on (l_partkey, "
        "l_suppkey): per-column min/max broadcast once, 8-bit scaled "
        "codes bit-interleaved by a pure shift/and expression tree "
        "(whole-stage codegen, no UDF), then ONE repartitionByRange "
        "shuffle + in-partition sort. Every clustered dimension gets "
        "partial locality, so parquet min/max footer stats skip most "
        "row groups for selective filters on EITHER column — the "
        "maintenance job that turns full-table scans into few-row-group "
        "reads at 100 TB (Delta OPTIMIZE ZORDER's technique, built from "
        "Spark primitives). Oracle checks the rewrite is content-exact; "
        "tests/test_layout.py measures the per-file range shrinkage "
        "that is the skipping evidence.",
    tags=("scan", "layout", "maintenance"),
)
def s01h_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xgboost_ray_spark.sources.layout import write_zordered

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )
    out = scratch_path("lineitem_zorder")
    write_zordered(li, out, ["l_partkey", "l_suppkey"], ZORDER_FILES)
    return spark.read.parquet(out).filter(F.col("l_partkey") < 50)


# ---------------------------------------------------------------------------
# S1f — binaryFile source: raw image/audio file ingestion
# ---------------------------------------------------------------------------
BINARY_SCAN_DOCS = 64  # files materialized for the round trip


@register(
    "s01f_binaryfile_scan",
    oracle=f"""
    SELECT doc_id, CAST(16 AS INT) AS n_bytes, md5(text) AS payload_hex
    FROM documents
    WHERE doc_id < {BINARY_SCAN_DOCS}
    """,
    doc="binaryFile source — Spark's native ingestion path for raw "
        "image/audio/video files: a directory of .bin payloads is read as "
        "(path, modificationTime, length, content) with pathGlobFilter "
        "pushdown, file-granular splits sized by maxPartitionBytes. The "
        "oracle recomputes each payload from the source text (md5), "
        "proving the bytes survive the file round trip and the binary "
        "column transport. At 100 TB this is how a multimodal corpus "
        "enters the engine when it arrives as object-store files rather "
        "than parquet; for millions of tiny files, the first job should "
        "be exactly this scan followed by a parquet rewrite (s01e "
        "compaction) so every later pass reads row groups, not inodes.",
    tags=("scan", "multimodal", "source"),
)
def s01f_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialize the payload files (test-scale stand-in for an existing
    # object-store directory; content is the md5 digest bytes of the doc
    # text, the same deterministic payload the multimodal entries use).
    # A fresh scratch path per build, like every scratch artifact: the
    # scan is lazy, so a later build must not touch the files this
    # DataFrame will read at action time.
    blob_dir = scratch_path("doc_blobs")
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < BINARY_SCAN_DOCS)
        .select("doc_id", F.unhex(F.md5("text")).alias("payload"))
        .collect()
    )
    os.makedirs(blob_dir)
    for row in docs:
        with open(os.path.join(blob_dir, f"doc_{row.doc_id:06d}.bin"), "wb") as f:
            f.write(bytes(row.payload))

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(blob_dir)
    )
    return files.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").cast("int").alias("n_bytes"),
        F.lower(F.hex("content")).alias("payload_hex"),
    )


# ---------------------------------------------------------------------------
# S3 — Projection / rename / drop
# ---------------------------------------------------------------------------
@register(
    "s03_projection",
    oracle="""
    SELECT c_custkey AS custkey, c_name AS name, c_mktsegment AS segment
    FROM customer
    """,
    doc="select/withColumnRenamed/drop; Catalyst prunes the scan to 3 columns "
        "(reference 'ignore' projection: matrix.py:744-745).",
)
def s03_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.drop("c_acctbal", "c_nationkey")
        .withColumnRenamed("c_custkey", "custkey")
        .withColumnRenamed("c_name", "name")
        .withColumnRenamed("c_mktsegment", "segment")
    )


# ---------------------------------------------------------------------------
# S4 — Filter: =, <, >, IN, BETWEEN, LIKE, IS NULL, AND/OR/NOT
# ---------------------------------------------------------------------------
@register(
    "s04_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag, l_shipdate
    FROM lineitem
    WHERE l_returnflag = 'R'
      AND l_quantity > 45
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_linestatus IN ('F', 'O')
      AND NOT (l_tax < 0.01 OR l_tax > 0.07)
      AND l_shipdate IS NOT NULL
      AND CAST(l_orderkey AS VARCHAR) LIKE '%7'
    """,
    doc="Compound predicate (=, >, BETWEEN, IN, NOT/OR, IS NULL, LIKE); "
        "sargable parts push to the parquet scan.",
)
def s04_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_returnflag") == "R")
        & (F.col("l_quantity") > 45)
        & F.col("l_discount").between(0.05, 0.07)
        & F.col("l_linestatus").isin("F", "O")
        & ~((F.col("l_tax") < 0.01) | (F.col("l_tax") > 0.07))
        & F.col("l_shipdate").isNotNull()
        & F.col("l_orderkey").cast("string").like("%7")
    ).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount",
        "l_returnflag", "l_shipdate",
    )


# ---------------------------------------------------------------------------
# S9 — Group-by aggregate (TPC-H Q1 shape; also the flagship entry query)
# ---------------------------------------------------------------------------
Q1_ORACLE = f"""
    SELECT
      l_returnflag,
      l_linestatus,
      {sql_dsum("l_quantity", "sum_qty")},
      {sql_dsum("l_extendedprice", "sum_base_price")},
      {sql_dsum("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
      {sql_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge")},
      {sql_davg("l_quantity", "avg_qty")},
      {sql_davg("l_extendedprice", "avg_price")},
      {sql_davg("l_discount", "avg_disc")},
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
"""


def pricing_summary(li: DataFrame) -> DataFrame:
    """TPC-H Q1 pricing summary over lineitem (flagship query)."""
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg(F.col("l_quantity"), "avg_qty"),
            davg(F.col("l_extendedprice"), "avg_price"),
            davg(F.col("l_discount"), "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "s09b_stats_agg",
    oracle="""
    SELECT
      l_returnflag,
      ROUND(stddev_samp(l_quantity), 4) AS sd_qty,
      ROUND(var_samp(l_discount), 6) AS var_disc,
      ROUND(quantile_cont(l_quantity, 0.5), 4) AS med_qty,
      ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
      ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Statistical aggregates: sample stddev/variance, exact interpolated "
        "percentiles (median, p90), Pearson correlation — single-pass "
        "map-side-combinable moments plus a percentile shuffle.",
    tags=("agg", "stats"),
)
def s09b_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("med_qty"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90_price"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
    )


@register(
    "s09_groupby_agg",
    oracle=Q1_ORACLE,
    doc="TPC-H Q1: groupBy two low-cardinality keys + 8 aggregates; "
        "map-side partial aggregation makes the shuffle tiny at any scale.",
    tags=("agg", "flagship"),
)
def s09_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pricing_summary(load_table(spark, sf_dir, "lineitem"))


@register(
    "s09d_argmax",
    oracle="""
    SELECT event_type, max_value, arg_event
    FROM (
      SELECT event_type, value AS max_value, event_id AS arg_event,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value DESC, event_id DESC
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc="Argmax without a window: max(struct(value, event_id)) per group — "
        "one map-side-combinable aggregation, so the shuffle carries one "
        "row per (partition, group) instead of every event (the window "
        "spelling shuffles ALL rows). The struct buffer is not UnsafeRow-"
        "mutable, so Spark plans SortAggregate — the partial still "
        "combines map-side; the in-partition sort is by the low-"
        "cardinality group key only (measured 0.34 s at sf0.1, plan-"
        "audited catalog-wide in the round-8 SortAggregate sweep). The "
        "struct's lexicographic order makes the tiebreak (highest "
        "event_id) deterministic, so the window-based oracle matches "
        "exactly.",
    tags=("agg",),
)
def s09d_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    top = F.max(F.struct("value", "event_id")).alias("t")
    return (
        ev.groupBy("event_type")
        .agg(top)
        .select(
            "event_type",
            F.col("t.value").alias("max_value"),
            F.col("t.event_id").alias("arg_event"),
        )
    )


# ---------------------------------------------------------------------------
# S10 — Distinct & count distinct (exact); approx variant is rows-only
# ---------------------------------------------------------------------------
@register(
    "s10_count_distinct",
    oracle="""
    SELECT
      l_returnflag,
      COUNT(DISTINCT l_partkey) AS n_parts,
      COUNT(DISTINCT l_suppkey) AS n_supps,
      COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact COUNT(DISTINCT) via expand+two-phase agg (Catalyst handles it).",
    tags=("agg",),
)
def s10_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@register(
    "s10b_approx_count_distinct",
    oracle=None,  # HLL implementations differ across engines; rows-only check
    doc="approx_count_distinct (HyperLogLog++): the 100TB-scale path for "
        "distinct counting — constant memory per group, no expand.",
    tags=("agg", "approx"),
)
def s10b_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
    )


@register(
    "s10c_distinct_rows",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus, l_shipmode FROM ("
           "SELECT l_returnflag, l_linestatus, "
           "CASE WHEN l_linenumber % 2 = 0 THEN 'EVEN' ELSE 'ODD' END AS l_shipmode "
           "FROM lineitem)",
    doc="Row-level DISTINCT (shuffle on all columns).",
)
def s10c_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_returnflag",
            "l_linestatus",
            F.when(F.col("l_linenumber") % 2 == 0, "EVEN")
            .otherwise("ODD")
            .alias("l_shipmode"),
        ).distinct()
    )


# ---------------------------------------------------------------------------
# S11 — Rollup / cube / grouping sets
# ---------------------------------------------------------------------------
@register(
    "s11_rollup",
    oracle=f"""
    SELECT
      l_returnflag, l_linestatus,
      CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
      CAST(GROUPING(l_linestatus) AS INT) AS g_status,
      {sql_dsum("l_quantity", "sum_qty")},
      COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    doc="ROLLUP with GROUPING() markers (hierarchical subtotals in one pass).",
    tags=("agg",),
)
def s11_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        dsum(F.col("l_quantity"), "sum_qty"),
        F.count("*").alias("n"),
    ).select(
        "l_returnflag", "l_linestatus", "g_flag", "g_status", "sum_qty", "n"
    )


@register(
    "s11b_cube",
    oracle=f"""
    SELECT
      l_returnflag, l_linestatus,
      {sql_dsum("l_extendedprice", "sum_price")},
      COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    doc="CUBE: all 2^k grouping combinations in one shuffle.",
    tags=("agg",),
)
def s11b_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_extendedprice"), "sum_price"),
        F.count("*").alias("n"),
    )


@register(
    "s11c_grouping_sets",
    oracle=f"""
    SELECT
      l_returnflag, l_linestatus,
      {sql_dsum("l_quantity", "sum_qty")},
      COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="Explicit GROUPING SETS (disjoint subtotal lattices in one shuffle; "
        "DataFrame.groupingSets, Spark 4).",
    tags=("agg",),
)
def s11c_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        dsum(F.col("l_quantity"), "sum_qty"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# S12 — HAVING
# ---------------------------------------------------------------------------
@register(
    "s11d_pivot",
    oracle=f"""
    SELECT
      l_linestatus,
      {sql_dsum("CASE WHEN l_returnflag = 'A' THEN l_quantity END", "qty_A")},
      {sql_dsum("CASE WHEN l_returnflag = 'N' THEN l_quantity END", "qty_N")},
      {sql_dsum("CASE WHEN l_returnflag = 'R' THEN l_quantity END", "qty_R")}
    FROM lineitem
    GROUP BY l_linestatus
    """,
    doc="Pivot: wide per-key columns from the l_returnflag domain; explicit "
        "value list avoids the extra distinct-collection job, leaving the "
        "standard two-level pivot aggregate.",
    tags=("agg", "pivot"),
)
def s11d_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        # dsum's decimal-accumulate protocol, spelled inline because
        # pivot().agg() appends the agg alias as a column SUFFIX; DEC is
        # the one shared precision constant so this cannot drift from the
        # sql_dsum oracle above.
        .agg(F.sum(F.col("l_quantity").cast(DEC)).cast("double"))
    )
    return out.select(
        "l_linestatus",
        F.col("A").alias("qty_A"),
        F.col("N").alias("qty_N"),
        F.col("R").alias("qty_R"),
    )


@register(
    "s11e_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
    FROM lineitem WHERE l_orderkey <= 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem WHERE l_orderkey <= 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
    FROM lineitem WHERE l_orderkey <= 100
    """,
    doc="Unpivot/melt: wide measures to (measure, val) rows — "
        "DataFrame.unpivot, a single narrow Expand (no N-scan union).",
    tags=("pivot",),
)
def s11e_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "val",
    )


@register(
    "s12_having",
    oracle=f"""
    SELECT o_custkey, COUNT(*) AS n_orders, {sql_dsum("o_totalprice", "total_spend")}
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12
    """,
    doc="Post-aggregation filter (HAVING = .agg().filter()).",
    tags=("agg",),
)
def s12_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice"), "total_spend"),
        )
        .filter(F.col("n_orders") >= 12)
    )


# ---------------------------------------------------------------------------
# S15 — Multi-key sort + limit (deterministic total order)
# ---------------------------------------------------------------------------
@register(
    "s15_sort_limit",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
    LIMIT 100
    """,
    doc="ORDER BY (desc/asc mix) + LIMIT: Spark plans TakeOrderedAndProject — "
        "a per-partition top-k then a k-row merge, never a full global sort.",
)
def s15_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")
        .orderBy(
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .limit(100)
    )


@register(
    "s15b_sort_nulls",
    oracle="""
    SELECT o_orderkey, o_orderpriority, v
    FROM (
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END AS v
      FROM orders WHERE o_orderkey < 2000
    )
    ORDER BY v DESC NULLS LAST, o_orderkey
    LIMIT 50
    """,
    doc="NULLS FIRST/LAST ordering semantics.",
)
def s15b_sort_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderkey") < 2000)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.when(F.col("o_orderkey") % 7 == 0, None)
            .otherwise(F.col("o_totalprice"))
            .alias("v"),
        )
        .orderBy(F.col("v").desc_nulls_last(), F.col("o_orderkey"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# S17 — Set operations, all four flavors tagged into one result
# ---------------------------------------------------------------------------
@register(
    "s17_setops",
    oracle="""
    SELECT 'union_all' AS op, n_nationkey AS k FROM (
        SELECT c_nationkey AS n_nationkey FROM customer WHERE c_custkey <= 50
        UNION ALL
        SELECT s_nationkey FROM supplier WHERE s_suppkey <= 50
    )
    UNION ALL
    SELECT 'union_distinct' AS op, n_nationkey AS k FROM (
        SELECT c_nationkey AS n_nationkey FROM customer
        UNION
        SELECT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT 'intersect' AS op, n_nationkey AS k FROM (
        SELECT c_nationkey AS n_nationkey FROM customer
        INTERSECT
        SELECT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT 'except' AS op, n_nationkey AS k FROM (
        SELECT c_nationkey AS n_nationkey FROM customer
        EXCEPT
        SELECT s_nationkey FROM supplier
    )
    """,
    doc="UNION ALL / UNION DISTINCT / INTERSECT / EXCEPT over nation keys.",
)
def s17_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    c_keys = cust.select(F.col("c_nationkey").alias("k"))
    s_keys = supp.select(F.col("s_nationkey").alias("k"))
    ua = (
        cust.filter(F.col("c_custkey") <= 50)
        .select(F.col("c_nationkey").alias("k"))
        .unionAll(
            supp.filter(F.col("s_suppkey") <= 50).select(
                F.col("s_nationkey").alias("k")
            )
        )
        .select(F.lit("union_all").alias("op"), "k")
    )
    ud = c_keys.union(s_keys).distinct().select(
        F.lit("union_distinct").alias("op"), "k"
    )
    it = c_keys.intersect(s_keys).select(F.lit("intersect").alias("op"), "k")
    ex = c_keys.subtract(s_keys).select(F.lit("except").alias("op"), "k")
    return ua.unionAll(ud).unionAll(it).unionAll(ex)


# ---------------------------------------------------------------------------
# S18 — String functions
# ---------------------------------------------------------------------------
@register(
    "s18_string_funcs",
    oracle=r"""
    SELECT
      p_partkey,
      LOWER(p_name) AS lname,
      UPPER(p_brand) AS ubrand,
      TRIM(CONCAT('  ', p_type, ' ')) AS ttype,
      SUBSTRING(p_name, 1, 5) AS name5,
      p_brand || '#' || p_type AS brand_type,
      LEN(regexp_split_to_array(p_type, ' ')) AS n_type_words,
      REGEXP_EXTRACT(p_type, '^[a-z]+') AS first_word,
      LENGTH(p_name) AS name_len,
      REPLACE(p_brand, 'Brand', 'B') AS brand_short,
      STRPOS(p_type, ' ') AS first_space
    FROM part
    WHERE p_partkey <= 500
    """,
    doc="lower/upper/trim/substring/concat/split/regexp_extract/length/"
        "replace/instr — all JVM-codegen built-ins, no UDFs.",
    tags=("functions",),
)
def s18_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.filter(F.col("p_partkey") <= 500).select(
        "p_partkey",
        F.lower("p_name").alias("lname"),
        F.upper("p_brand").alias("ubrand"),
        F.trim(F.concat(F.lit("  "), F.col("p_type"), F.lit(" "))).alias("ttype"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
        F.size(F.split("p_type", " ")).alias("n_type_words"),
        F.regexp_extract("p_type", r"^[a-z]+", 0).alias("first_word"),
        F.length("p_name").alias("name_len"),
        F.regexp_replace("p_brand", "Brand", "B").alias("brand_short"),
        F.instr(F.col("p_type"), " ").alias("first_space"),
    )


# ---------------------------------------------------------------------------
# S19 — Date/time functions
# ---------------------------------------------------------------------------
@register(
    "s19_date_funcs",
    oracle="""
    SELECT
      o_orderkey,
      CAST(YEAR(o_orderdate) AS INT) AS yr,
      CAST(MONTH(o_orderdate) AS INT) AS mo,
      CAST(DAYOFMONTH(o_orderdate) AS INT) AS dom,
      CAST(QUARTER(o_orderdate) AS INT) AS qtr,
      DATE_TRUNC('month', o_orderdate) AS month_start,
      DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_eoy,
      CAST(o_orderdate AS DATE) AS odate,
      CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date
    FROM orders
    WHERE o_orderkey <= 1000
    """,
    doc="year/month/day/quarter/date_trunc/datediff/to_date/date_add.",
    tags=("functions",),
)
def s19_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    od = F.col("o_orderdate")
    return orders.filter(F.col("o_orderkey") <= 1000).select(
        "o_orderkey",
        F.year(od).cast("int").alias("yr"),
        F.month(od).cast("int").alias("mo"),
        F.dayofmonth(od).cast("int").alias("dom"),
        F.quarter(od).cast("int").alias("qtr"),
        F.date_trunc("month", od).alias("month_start"),
        F.datediff(F.lit("1998-12-31").cast("date"), od.cast("date")).alias(
            "days_to_eoy"
        ),
        od.cast("date").alias("odate"),
        F.date_add(od.cast("date"), 30).alias("due_date"),
    )


# ---------------------------------------------------------------------------
# S20 — Math functions
# ---------------------------------------------------------------------------
@register(
    "s20_math_funcs",
    oracle="""
    SELECT
      l_orderkey, l_linenumber,
      ROUND(l_extendedprice, 1) AS price_r1,
      CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
      CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
      ABS(l_discount - 0.05) AS disc_dev,
      ROUND(SQRT(l_quantity), 4) AS qty_sqrt,
      ROUND(LN(l_extendedprice), 4) AS price_ln,
      ROUND(POW(1 + l_tax, 2), 6) AS tax_sq,
      CAST(l_quantity AS INT) % 5 AS qty_mod5
    FROM lineitem
    WHERE l_orderkey <= 400
    """,
    doc="round/floor/ceil/abs/sqrt/ln/pow/mod; transcendentals rounded to "
        "absorb libm last-ulp differences across engines.",
    tags=("functions",),
)
def s20_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") <= 400).select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.floor("l_extendedprice").cast("bigint").alias("price_floor"),
        F.ceil("l_extendedprice").cast("bigint").alias("price_ceil"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.round(F.sqrt("l_quantity"), 4).alias("qty_sqrt"),
        F.round(F.log("l_extendedprice"), 4).alias("price_ln"),
        F.round(F.pow(F.lit(1) + F.col("l_tax"), 2), 6).alias("tax_sq"),
        (F.col("l_quantity").cast("int") % 5).alias("qty_mod5"),
    )


# ---------------------------------------------------------------------------
# S21 — Conditional expressions
# ---------------------------------------------------------------------------
@register(
    "s21_conditional",
    oracle="""
    SELECT
      c_custkey,
      CASE
        WHEN c_acctbal < 0 THEN 'debt'
        WHEN c_acctbal < 5000 THEN 'low'
        WHEN c_acctbal < 8000 THEN 'mid'
        ELSE 'high'
      END AS bal_bucket,
      COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), 'OTHER') AS seg_masked,
      CASE WHEN c_nationkey % 2 = 0 THEN c_acctbal ELSE -c_acctbal END AS signed_bal
    FROM customer
    """,
    doc="CASE WHEN / COALESCE / NULLIF.",
    tags=("functions",),
)
def s21_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .when(F.col("c_acctbal") < 8000, "mid")
        .otherwise("high")
        .alias("bal_bucket"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")), F.lit("OTHER"))
        .alias("seg_masked"),
        F.when(F.col("c_nationkey") % 2 == 0, F.col("c_acctbal"))
        .otherwise(-F.col("c_acctbal"))
        .alias("signed_bal"),
    )


# ---------------------------------------------------------------------------
# S22 — Array functions over the embeddings table
# ---------------------------------------------------------------------------
@register(
    "s22_array_funcs",
    oracle="""
    WITH flat AS (
      SELECT vec_id, embedding,
             unnest(generate_series(1, LEN(embedding))) AS i
      FROM embeddings WHERE vec_id < 20
    )
    SELECT
      vec_id,
      CAST(i - 1 AS INT) AS pos,
      CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS val,
      CAST(LEN(embedding) AS INT) AS dim
    FROM flat
    """,
    doc="size/posexplode over ArrayType(Float) embedding column; generates "
        "(vec_id, pos, val) rows — Catalyst Generate node, no Python.",
    tags=("functions", "arrays"),
)
def s22_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.filter(F.col("vec_id") < 20)
        .select(
            "vec_id",
            F.posexplode("embedding").alias("pos", "valf"),
            F.size("embedding").alias("dim"),
        )
        .select(
            "vec_id",
            F.col("pos").cast("int").alias("pos"),
            F.col("valf").cast("double").alias("val"),
            F.col("dim").cast("int").alias("dim"),
        )
    )


@register(
    "s22b_array_hof",
    oracle="""
    SELECT
      vec_id,
      CAST(LEN(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
      list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS l2sq,
      CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS max_val
    FROM embeddings
    """,
    doc="Higher-order array functions over the embedding column: "
        "filter (positive-component count), aggregate+zip_with "
        "(sequential-double sum of squares — bit-identical to DuckDB's "
        "list_dot_product fold), array_max. All lambda expressions execute "
        "JVM-side per row — zero shuffle, zero Python.",
    tags=("functions", "arrays"),
)
def s22b_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    l2sq = F.expr(
        "aggregate(zip_with(embedding, embedding,"
        " (x, y) -> cast(x as double) * cast(y as double)),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )
    return emb.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).cast("int").alias("n_pos"),
        l2sq.alias("l2sq"),
        F.array_max("embedding").cast("double").alias("max_val"),
    )


# ---------------------------------------------------------------------------
# S22 variant — map type construction + higher-order map functions
# ---------------------------------------------------------------------------
@register(
    "s22c_map_funcs",
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id, event_type,
           CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY user_id) AS share
    FROM counts
    """,
    doc="Map-typed column surface: per-user event-type counts assembled "
        "into a MAP via map_from_entries(collect_list(struct)), a "
        "higher-order transform_values rescales every entry to its "
        "share of the user total (lambda referencing an outer column), "
        "and explode(map) unpacks back to rows. The map is built and "
        "consumed inside one user_id aggregation — a single shuffle; "
        "shares are single IEEE divisions of integer counts, so values "
        "hash-match the window-function oracle exactly with no "
        "rounding.",
    tags=("functions", "maps"),
)
def s22c_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
    )
    per_user = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m"),
        F.sum("n").alias("total"),
    )
    shares = per_user.select(
        "user_id",
        F.explode(
            F.transform_values(
                "m", lambda k, v: v.cast("double") / F.col("total")
            )
        ).alias("event_type", "share"),
    )
    return shares


# ---------------------------------------------------------------------------
# S23 — JSON extraction from events.props
# ---------------------------------------------------------------------------
@register(
    "s23_json",
    oracle=f"""
    SELECT
      event_type,
      COUNT(*) AS n,
      CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
      CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
      {sql_dsum("CAST(json_extract_string(props, '$.k') AS BIGINT)", "sum_k")}
    FROM events
    GROUP BY event_type
    """,
    doc="get_json_object path extraction on a JSON string column + agg.",
    tags=("functions", "json"),
)
def s23_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min(k).cast("bigint").alias("min_k"),
        F.max(k).cast("bigint").alias("max_k"),
        dsum(k, "sum_k"),
    )


@register(
    "s23b_from_json",
    oracle="""
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
    """,
    doc="Schema-enforced JSON parse: from_json(props, 'k BIGINT') to a "
        "typed struct, field access, typed predicate. Unlike per-path "
        "get_json_object (s23), one parse serves every field, and the "
        "schema rejects drift to NULL instead of silently stringifying.",
    tags=("functions", "json"),
)
def s23b_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k BIGINT")
    return (
        ev.select("event_id", "event_type", parsed.getField("k").alias("k"))
        .filter(F.col("k") >= 50)
    )


# ---------------------------------------------------------------------------
# S23 variant — VARIANT-typed semi-structured access (Spark 4 path)
# ---------------------------------------------------------------------------
@register(
    "s23c_variant",
    oracle="""
    SELECT event_type,
           COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(COUNT(CASE WHEN json_extract_string(props, '$.missing')
                           IS NOT NULL THEN 1 END) AS BIGINT) AS n_missing
    FROM events
    GROUP BY event_type
    """,
    doc="Semi-structured access through Spark 4's VARIANT type: "
        "parse_json() decodes each props string ONCE into the binary "
        "variant encoding, then variant_get() does typed path access "
        "and try_variant_get() probes an absent path without erroring "
        "— the modern replacement for per-path get_json_object "
        "re-parsing (s23 keeps the classic path for comparison). At "
        "100 TB the win is one parse per row regardless of how many "
        "paths downstream extracts touch, and a stored variant column "
        "keeps that parse out of every query. Integer sums, exact.",
    tags=("functions", "json", "variant"),
)
def s23c_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "props")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "bigint")
    missing = F.try_variant_get(v, "$.missing", "string")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n_k"),
        F.sum(k).cast("bigint").alias("sum_k"),
        F.count(missing).cast("bigint").alias("n_missing"),
    )


# ---------------------------------------------------------------------------
# S24 — Tumbling time windows (batch) + gap sessionization
# ---------------------------------------------------------------------------
@register(
    "s24_tumbling_window",
    oracle=f"""
    SELECT
      DATE_TRUNC('hour', ts) AS wstart,
      event_type,
      COUNT(*) AS n,
      {sql_dsum("value", "sum_value")}
    FROM events
    GROUP BY 1, 2
    """,
    doc="1-hour tumbling windows over events.ts via F.window — the batch "
        "twin of the streaming S25 query.",
    tags=("events",),
)
def s24_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum(F.col("value"), "sum_value"))
        .select(
            F.col("w.start").alias("wstart"), "event_type", "n", "sum_value"
        )
    )


@register(
    "s24b_sessionization",
    oracle="""
    WITH gaps AS (
      SELECT
        user_id, ts,
        CASE
          WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
            OR epoch_us(ts)
               - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               > 30 * 60 * 1000000
          THEN 1 ELSE 0
        END AS is_new
      FROM events
    )
    SELECT user_id,
           CAST(SUM(is_new) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM gaps
    GROUP BY user_id
    """,
    doc="Gap-based sessionization (30-min inactivity): lag over a per-user "
        "window + cumulative new-session flags. Scales as one shuffle on "
        "user_id — session logic stays within partitions.",
    tags=("events",),
)
def s24b_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # Exact microsecond gap comparison so the DuckDB oracle (epoch_us) agrees.
    is_new = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts) > 30 * 60 * 1_000_000),
        1,
    ).otherwise(0)
    return (
        ev.select("user_id", "ts", "event_id")
        .withColumn("is_new", is_new)
        .groupBy("user_id")
        .agg(
            F.sum("is_new").cast("bigint").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "s24c_funnel",
    oracle="""
    WITH per AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
      FROM events GROUP BY user_id
    ), per2 AS (
      SELECT p.user_id, p.t1,
             MIN(CASE WHEN e.event_type = 'click' AND e.ts > p.t1
                      THEN e.ts END) AS t2
      FROM per p JOIN events e USING (user_id)
      GROUP BY p.user_id, p.t1
    ), per3 AS (
      SELECT p.user_id, p.t2,
             MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > p.t2
                      THEN e.ts END) AS t3
      FROM per2 p JOIN events e USING (user_id)
      GROUP BY p.user_id, p.t2
    )
    SELECT COUNT(p.t1) AS n_view,
           COUNT(p2.t2) AS n_view_click,
           COUNT(p3.t3) AS n_full_funnel
    FROM per p
    JOIN per2 p2 USING (user_id)
    JOIN per3 p3 USING (user_id)
    """,
    doc="Sequential-conversion funnel view -> click -> purchase: each "
        "stage's timestamp must be strictly after the previous stage's "
        "first occurrence. Three chained min-if windows over ONE user_id "
        "partitioning — Spark reuses the single exchange+sort across all "
        "three Window nodes, so the whole funnel costs one shuffle "
        "(the SQL oracle needs three self-joins for the same answer).",
    tags=("events",),
)
def s24c_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = W.partitionBy("user_id")
    is_ = lambda t: F.col("event_type") == t
    d = ev.withColumn("t1", F.min(F.when(is_("view"), F.col("ts"))).over(w))
    d = d.withColumn(
        "t2",
        F.min(F.when(is_("click") & (F.col("ts") > F.col("t1")), F.col("ts"))).over(w),
    )
    d = d.withColumn(
        "t3",
        F.min(
            F.when(is_("purchase") & (F.col("ts") > F.col("t2")), F.col("ts"))
        ).over(w),
    )
    per_user = d.groupBy("user_id").agg(
        F.min("t1").alias("t1"), F.min("t2").alias("t2"), F.min("t3").alias("t3")
    )
    return per_user.agg(
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_view_click"),
        F.count("t3").alias("n_full_funnel"),
    )


@register(
    "s24d_transition_counts",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS next_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ), agg AS (
      SELECT prev_type, next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           n / SUM(n) OVER (PARTITION BY prev_type) AS p
    FROM agg
    """,
    doc="Markov transition matrix of user behavior: lag(event_type) over "
        "each user's time-ordered stream, then a global (prev, next) count "
        "with per-prev conditional probability. One shuffle on user_id for "
        "the window, one tiny |event_types|^2 agg — the sequence-statistics "
        "pass of a behavioral/session pipeline. p is an exact IEEE "
        "bigint/bigint division, identical across engines.",
    tags=("events",),
)
def s24d_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(w)).filter(
        F.col("prev_type").isNotNull()
    )
    agg = (
        seq.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    return agg.withColumn(
        "p", F.col("n") / F.sum("n").over(W.partitionBy("prev_type"))
    )


@register(
    "s24e_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events
      GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) // 7
               AS week_k
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_day, CAST(week_k AS BIGINT) AS week_k,
           COUNT(*) AS n_active
    FROM activity
    GROUP BY cohort_day, week_k
    """,
    doc="Retention cohorts: users grouped by first-seen day, counted as "
        "active in each subsequent week — the canonical product-"
        "analytics triangle, and integer-exact (day arithmetic + "
        "distinct counts only, no floats to drift). Plan: one user_id "
        "aggregate for cohort assignment, joined back (AQE broadcasts "
        "the per-user firsts at dim scale), then a distinct + count "
        "keyed on (cohort, week) — every shuffle is on low-cardinality "
        "keys after the first. The week index is day-difference // 7, "
        "deliberately avoiding engine-specific week-truncation rules.",
    tags=("events", "agg", "analytics"),
)
def s24e_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.floor(F.datediff(F.col("day"), F.col("cohort_day")) / 7)
            .cast("bigint")
            .alias("week_k"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_day", "week_k").agg(
        F.count("*").alias("n_active")
    )


HIST_N = 5  # events of history per training example


@register(
    "s24f_user_sequences",
    oracle=f"""
    SELECT user_id, event_id, label,
           array_to_string(hist, ' ') AS hist
    FROM (
      SELECT user_id, event_id, event_type AS label,
             list(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {HIST_N} PRECEDING AND 1 PRECEDING
             ) AS hist
      -- NULL event_type rows are excluded up front in BOTH engines:
      -- Spark's collect_list silently drops NULLs while DuckDB's list()
      -- keeps them, so an unfiltered NULL would shift the two histories
      -- apart. The events fixture has no NULL types today; the filter
      -- pins the semantics so that can never change silently.
      FROM events WHERE event_type IS NOT NULL
    )
    WHERE len(hist) > 0
    """,
    doc=f"Sequence-feature construction for behavioral models: each event "
        f"becomes a training example (label = its type) with the user's "
        f"previous {HIST_N} event types as an ordered array feature — "
        "collect_list over a bounded ROWS frame. One window shuffle on "
        "user_id; the frame bound caps per-row state at N entries, so at "
        "100 TB the operator streams each user's timeline once and emits "
        "rows only O(N) wider than the input. Cold-start rows (no "
        "history) are dropped in both engines. The checked projection "
        "serializes the array feature as a space-joined string (scalar "
        "cells hash engine-independently); the array itself is what a "
        "training pipeline would keep.",
    tags=("window", "sequence", "pipeline"),
)
def s24f_user_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        # collect_list drops NULLs but DuckDB's list() keeps them; filter
        # NULL types explicitly so both engines see the same timeline.
        .filter(F.col("event_type").isNotNull())
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-HIST_N, -1)
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            F.col("event_type").alias("label"),
            F.collect_list("event_type").over(w).alias("hist_arr"),
        )
        .filter(F.size("hist_arr") > 0)
        .select(
            "user_id",
            "event_id",
            "label",
            F.array_join("hist_arr", " ").alias("hist"),
        )
    )


@register(
    "s09e_quantile_filter",
    oracle="""
    WITH h AS (
      SELECT n_chars, COUNT(*) AS cnt FROM documents GROUP BY 1
    ), c AS (
      SELECT n_chars,
             SUM(cnt) OVER (ORDER BY n_chars DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
             SUM(cnt) OVER () AS total
      FROM h
    ), t AS (
      SELECT MAX(n_chars) AS thr FROM c WHERE cum >= (total + 9) // 10
    )
    SELECT d.doc_id, d.n_chars
    FROM documents d, t
    WHERE d.n_chars >= t.thr
    """,
    doc="Global top-decile filter (keep the ~10% longest documents, ties "
        "included): the cutoff is derived from a VALUE HISTOGRAM — "
        "groupBy(score) count, cumulative sum ordered by score desc, "
        "threshold = largest score whose >=-score population reaches "
        "ceil(N/10) — then broadcast back as a scan filter. Exact integer "
        "logic (no percentile interpolation to disagree across engines). "
        "At 100 TB the histogram shuffle carries one row per DISTINCT "
        "score (quantize continuous scores first); the data itself is "
        "touched by two narrow passes: count + broadcast-filter. The "
        "single-partition window runs over the tiny histogram, never rows.",
    tags=("agg", "pipeline"),
)
def s09e_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    hist = docs.groupBy("n_chars").agg(F.count("*").alias("cnt"))
    wcum = (
        W.orderBy(F.col("n_chars").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = hist.select(
        "n_chars",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(W.partitionBy()).alias("total"),
    )
    thr = (
        cum.filter(F.col("cum") >= F.expr("(total + 9) div 10"))
        .agg(F.max("n_chars").alias("thr"))
    )
    return (
        docs.crossJoin(F.broadcast(thr))
        .filter(F.col("n_chars") >= F.col("thr"))
        .select("doc_id", "n_chars")
    )
